"""Programmatic catalog accounting (round 12 — VERDICT r11 item 6:
"the r11 response header said 233 where the artifacts say 236;
generate the catalog delta from code when writing VERDICT_RESPONSE").

Prints: len(queries()), oracle pairing coverage, and the exact name
diff vs a previous round's CHECK_FULL_r{N}.txt (its PASS/FAIL lines).

Usage: python tools/catalog_delta.py [CHECK_FULL_rNN.txt]
       (default: the highest-numbered CHECK_FULL_r*.txt in the repo)
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

# the repository this tool belongs to, wherever it is checked out
ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def main() -> None:
    import __spark_entry__ as e

    q = set(e.queries())
    o = set(e.oracle_sql())
    print(f"queries(): {len(q)}")
    print(f"oracle_sql(): {len(o)}")
    no_oracle = sorted(q - o)
    print(f"without oracle: {len(no_oracle)}{' ' + str(no_oracle) if no_oracle else ''}")
    stray = sorted(o - q)
    if stray:
        print(f"ORACLE WITHOUT QUERY (bug): {stray}")

    if len(sys.argv) > 1:
        prev_path = Path(sys.argv[1])
    else:
        cands = sorted(
            ROOT.glob("CHECK_FULL_r*.txt"),
            key=lambda p: int(re.search(r"r(\d+)", p.name).group(1)),
        )
        if not cands:
            return
        prev_path = cands[-1]
    prev = {
        m.group(1)
        for m in re.finditer(
            r"^(?:PASS|FAIL)\s+(\S+?):", prev_path.read_text(), re.M
        )
    }
    print(f"previous ({prev_path.name}): {len(prev)}")
    added = sorted(q - prev)
    removed = sorted(prev - q)
    print(f"added ({len(added)}): {added}")
    if removed:
        print(f"removed ({len(removed)}): {removed}")


if __name__ == "__main__":
    main()
