#!/usr/bin/env python3
"""Write a battery expected-fingerprint file from battery run records.

    python3 perfbench/expected.py OUT.txt RECORD.json [RECORD.json ...]

Records of runs with different seeds over the same sf tables. A query whose
fingerprint agrees across every record is expected to reproduce it; one
whose fingerprint differs between records is checked on its row count only
(written with fingerprint "-"). A query whose row count differs, or that
failed in any record, is left out and reported.
"""
import json
import sys
from pathlib import Path


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    out, paths = Path(sys.argv[1]), sys.argv[2:]
    seen = {}
    sf = set()
    for p in paths:
        rec = json.loads(Path(p).read_text())
        if rec["workload"] != "battery":
            sys.exit(f"{p}: not a battery record")
        sf.add(rec["info"]["sf_dir_name"])
        for q in rec["queries"]:
            seen.setdefault(q["name"], []).append(q)
    if len(sf) != 1:
        sys.exit(f"records cover different sf tables: {sorted(sf)}")
    lines, count_only, dropped = [], [], []
    for name in sorted(seen):
        qs = seen[name]
        if len(qs) != len(paths) or not all(q["ok"] for q in qs) or \
                len({q["rows"] for q in qs}) != 1:
            dropped.append(name)
            continue
        fps = {q["fp"] for q in qs}
        if len(fps) != 1:
            count_only.append(name)
        lines.append(f"{name} {qs[0]['rows']} {fps.pop() if len(fps) == 1 else '-'}")
    header = [f"# battery expected fingerprints over {sf.pop()}, from {len(paths)} seeded runs",
              "# name rows fingerprint ('-' = checked on row count only)"]
    out.write_text("\n".join(header + lines) + "\n")
    print(f"{out}: {len(lines)} queries, row count only: {count_only or 'none'}, "
          f"left out: {dropped or 'none'}")


if __name__ == "__main__":
    main()
