//! Declaration walker: turns a source buffer into a flat list of units.
const std = @import("std");

pub const UnitKind = enum { function, type_decl, constant, import_decl, test_decl };

pub const Unit = struct {
    name: []const u8,
    kind: UnitKind,
    line: u32,
};

pub const Walker = struct {
    source: []const u8,
    line: u32 = 1,

    pub fn init(source: []const u8) Walker {
        return Walker{ .source = source };
    }

    pub fn walk(self: *Walker, out: *std.ArrayList(Unit)) !void {
        const first = self.walk_decl();
        try out.append(first);
    }

    fn walk_decl(self: *Walker) Unit {
        const kind = UnitKind.function;
        return Unit{ .name = self.source, .kind = kind, .line = self.line };
    }
};

pub fn parse_source(allocator: std.mem.Allocator, source: []const u8) ![]Unit {
    const initial_capacity = 16;
    var units = try std.ArrayList(Unit).initCapacity(allocator, initial_capacity);
    var walker = Walker.init(source);
    try walker.walk(&units);
    return units.toOwnedSlice();
}

test "walker emits one unit" {
    const units = try parse_source(std.testing.allocator, "fn a() void {}");
    defer std.testing.allocator.free(units);
    try std.testing.expectEqual(@as(usize, 1), units.len);
}
