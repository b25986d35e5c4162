//! Query front end: counts the queries it serves and delegates graph
//! walks to the traversal module.
const std = @import("std");
const traversal = @import("traversal.zig");

pub const QueryKind = enum { find, show, trace };

pub const QueryEngine = struct {
    queries_run: u64 = 0,

    pub fn init() QueryEngine {
        return QueryEngine{};
    }

    pub fn show_callers(self: *QueryEngine, target: u64) traversal.TraversalResult {
        self.queries_run += 1;
        return traversal.traverse_incoming(target, 1);
    }

    pub fn show_callees(self: *QueryEngine, target: u64) traversal.TraversalResult {
        self.queries_run += 1;
        return traversal.traverse_outgoing(target, 1);
    }
};

test "engine counts queries" {
    var engine = QueryEngine.init();
    _ = engine.show_callers(7);
    try std.testing.expectEqual(@as(u64, 1), engine.queries_run);
}
