//! Predicates over block metadata.
const std = @import("std");

pub const Predicate = union(enum) {
    unit_type: []const u8,
    codebase: []const u8,
};

pub fn matches(predicate: Predicate, unit_type: []const u8, codebase: []const u8) bool {
    return switch (predicate) {
        .unit_type => |want| std.mem.eql(u8, want, unit_type),
        .codebase => |want| std.mem.eql(u8, want, codebase),
    };
}

test "unit type predicate" {
    try std.testing.expect(matches(.{ .unit_type = "function" }, "function", "kausal"));
}
