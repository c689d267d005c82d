import os

# FIXTURES.md §2 aoi_fixture: a committed stand-in for the reference's
# Luxembourg outline, which is not part of this repository
AOI_FIXTURE_WKT = os.path.join(os.path.dirname(__file__), "data", "aoi_fixture.wkt")


def assert_salted_pair_join(plan: str, what: str) -> None:
    """The one plan shape of ``operators.pairs.keyed_self_join``, hot key or
    not: the pair join is keyed on ``salt``, no Union node sits above it
    (the old hot/cold split unioned two joins) and the plan has no LeftAnti
    or LeftSemi node.  A Union below the join (an input fixture's) is fine."""
    import re

    lines = plan.splitlines()
    at = [i for i, line in enumerate(lines) if re.search(r"Join \[[^\]]*\bsalt#\d+", line)]
    assert at, f"{what}: pair join not keyed on salt"
    for node in ("LeftAnti", "LeftSemi"):
        assert node not in plan, f"{what}: plan has a {node} node"

    def depth(line):
        node = re.search(r"[A-Za-z]", line)
        return node.start() if node else len(line)

    level = depth(lines[at[0]])
    for line in reversed(lines[: at[0]]):
        if line.strip() and depth(line) < level:
            level = depth(line)
            assert "Union" not in line, f"{what}: a Union node above the pair join"


def capture_side_a(monkeypatch, module) -> list:
    """Wrap ``module.keyed_self_join`` so every call appends its salted side
    a (the rows with their ``salt``) to the returned list."""
    sides = []
    real = module.keyed_self_join

    def spy(rows, keys, id_col, hot_threshold, n_salts, pair):
        def keep_a(a, b, join_keys):
            sides.append(a)
            return pair(a, b, join_keys)

        return real(rows, keys, id_col, hot_threshold, n_salts, keep_a)

    monkeypatch.setattr(module, "keyed_self_join", spy)
    return sides
