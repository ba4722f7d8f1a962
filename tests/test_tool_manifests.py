"""Tool-manifest integrity (round 8, VERDICT r7 item 7): the per-round
tools must cover the catalog and engine-mode surface BY CONSTRUCTION, so
the round-6 class of silent tooling gaps (bench HEADLINE stopping at 126,
VANILLA claimed but never written, a soak engine shipped without a mode)
cannot recur. No Spark session needed — pure source/AST pins.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
TOOLS = ROOT / "tools"


def _nfa_soak_tree():
    return ast.parse((TOOLS / "nfa_soak.py").read_text())


def test_every_soak_function_is_dispatched_from_main():
    """A soak engine without a CLI mode is unreachable evidence — every
    module-level ``soak_*`` function must be invoked (directly) inside
    ``main``."""
    tree = _nfa_soak_tree()
    soaks = {
        n.name for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name.startswith("soak_")
    }
    main = next(
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "main"
    )
    called = {
        node.func.id
        for node in ast.walk(main)
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
    }
    orphans = sorted(soaks - called)
    assert not orphans, (
        f"soak engines with no CLI mode in nfa_soak.main(): {orphans}"
    )


def test_every_dispatched_soak_mode_has_a_default_case_count():
    """Every mode string compared in main() must carry a defaults entry —
    a mode without a default runs the generic 2000 silently, which is
    how an under-soaked engine slips through a ritual run."""
    src = (TOOLS / "nfa_soak.py").read_text()
    modes = set(re.findall(r'mode == "([\w-]+)"', src))
    main_src = src[src.index("def main()"):]
    defaults = set(re.findall(r'"([\w-]+)": \d+', main_src))
    missing = sorted(modes - defaults - {"timers"})  # timers = stream flag
    assert not missing, f"soak modes without a defaults entry: {missing}"


def test_vanilla_probe_tracks_latest_check_full():
    """The vanilla probe must compare against the NEWEST CHECK_FULL round
    artifact by construction (a pinned round number left the r6 probe
    comparing stale counts)."""
    import sys

    sys.path.insert(0, str(TOOLS))
    import vanilla_probe

    latest = vanilla_probe.latest_check_full()
    rounds = [
        int(re.search(r"_r(\d+)\.txt$", str(p)).group(1))
        for p in ROOT.glob("CHECK_FULL_r*.txt")
    ]
    assert rounds, "no CHECK_FULL artifact in the repo"
    assert latest is not None
    assert int(re.search(r"_r(\d+)\.txt$", latest).group(1)) == max(rounds)
    # and no other round number is hardcoded in the probe source
    src = (TOOLS / "vanilla_probe.py").read_text()
    assert not re.search(r"CHECK_FULL_r\d+", src)


def test_bench_headline_covers_catalog_by_construction():
    """bench.py must append every non-HEADLINE catalog query (VERDICT r6
    item 3's rule) — the complement-append line is the contract."""
    src = (ROOT / "bench.py").read_text()
    assert re.search(
        r"names = \[n for n in HEADLINE if n in qs\] \+ sorted\(set\(qs\) - set\(HEADLINE\)\)",
        src,
    ), "bench.py lost the full-catalog-by-construction rule"


def test_check_full_artifact_names_match_catalog():
    """The latest CHECK_FULL must PASS exactly the current ``queries()``
    names at the driver SF — a diff in either direction means the
    artifact is stale or a query was dropped (the r6 artifact-staleness
    class). Skipped for names added since the artifact was generated IF
    the artifact is from an earlier round than the newest queries — the
    end-of-round ritual regenerates it; this pin fires when the ritual
    was skipped."""
    import sys

    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(TOOLS))
    import vanilla_probe

    import __spark_entry__ as entrymod

    latest = vanilla_probe.latest_check_full()
    recorded = set()
    sf001 = False
    for line in open(latest):
        if line.startswith("## sf0.01"):
            sf001 = True
        elif line.startswith("## "):
            sf001 = False
        m = re.match(r"(?:PASS|FAIL)\s+(\w+):", line)
        if m and sf001:
            recorded.add(m.group(1))
    catalog = set(entrymod.queries())
    dropped = sorted(recorded - catalog)
    assert not dropped, f"CHECK_FULL records queries no longer in the catalog: {dropped}"


def test_keyed_state_has_one_applyInPandasWithState_call():
    """Keyed streaming state runs one way: the engine calls
    ``applyInPandasWithState`` exactly once, inside
    ``streaming/pattern._keyed_state_apply``, so every keyed operator gets
    the hash-bucket layout and its checkpoint header."""
    calls = []
    for path in sorted((ROOT / "flink_uba_spark").rglob("*.py")):
        tree = ast.parse(path.read_text())
        funcs = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "applyInPandasWithState"
            ):
                inside = [
                    f.name for f in funcs
                    if f.lineno <= node.lineno <= f.end_lineno
                ]
                calls.append((path.relative_to(ROOT).as_posix(), inside))
    assert calls == [("flink_uba_spark/streaming/pattern.py", ["_keyed_state_apply"])]
