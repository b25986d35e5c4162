//! Identifiers and edge kinds shared by every module.
pub const BlockId = u64;

pub const EdgeType = enum { calls, imports, references };

pub const Edge = struct {
    src: BlockId,
    dst: BlockId,
    kind: EdgeType,
};
