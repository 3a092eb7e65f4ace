"""One idiom for cache lifetime: the library persists and releases frames
only inside the in-memory stage runner, the two corpus-frozen indexes that
own their caches as object state, the connected-components checkpoint
release, and the exact path's postings."""

import ast
import pathlib

import string_grouper_spark

PKG = pathlib.Path(string_grouper_spark.__file__).parent

# (module path relative to the package, top-level def or class)
ALLOWED = {
    ("checkpoint.py", "in_memory_stages"),
    ("plans/fast_dedup.py", "PrefitLshMatcher"),
    ("operators/ann.py", "PrefitAnnIndex"),
    ("operators/grouping.py", "_release"),
    ("operators/matching.py", "match_edges"),
}


def _lifetime_calls():
    """(module, top-level owner or None, line) of every .persist(/.unpersist( call."""
    for path in sorted(PKG.rglob("*.py")):
        mod = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text(), filename=str(path))
        for top in tree.body:
            owner = getattr(top, "name", None)
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("persist", "unpersist")
                ):
                    yield mod, owner, node.lineno


def test_persist_and_release_only_at_allowlisted_sites():
    calls = list(_lifetime_calls())
    stray = [c for c in calls if c[:2] not in ALLOWED]
    assert not stray, f"hand-written cache lifetime outside the runner: {stray}"
    # the runner itself persists and releases
    assert {c[:2] for c in calls} >= {("checkpoint.py", "in_memory_stages")}
