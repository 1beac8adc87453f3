"""Fold one or more bench.py stdout JSON lines into BENCH/last_run.json.

bench.py is measurement-frozen (it prints its single JSON line and owns no
files); this helper is how a round-close snapshot lands in the repo. The
artifact keeps the r06 shape — {"queries": min-across-sessions,
"sessions": [per-session bench dicts]} — plus, when BENCH/plan_hashes.json
exists, a "plan_hashes" copy so cross-round timing drift on unchanged code
is mechanically attributable to host vs plan (VERDICT r06 #6).

Usage: python tools/fold_last_run.py out.json bench_stdout.json [...]
"""

from __future__ import annotations

import json
import os
import sys


def bench_doc(path: str) -> dict:
    """The one bench document in a bench.py stdout capture.

    Exactly one line must be a JSON object carrying a ``queries`` dict; log
    lines around it are skipped. Zero or several such lines raise
    ValueError rather than fold the wrong document."""
    docs = []
    with open(path) as fh:
        for ln in fh.read().splitlines():
            ln = ln.strip()
            if not ln.startswith("{"):
                continue
            try:
                doc = json.loads(ln)
            except json.JSONDecodeError:
                continue
            if isinstance(doc, dict) and isinstance(doc.get("queries"), dict):
                docs.append(doc)
    if len(docs) != 1:
        raise ValueError(
            f"{path}: expected one JSON line with a 'queries' dict, "
            f"found {len(docs)}"
        )
    return docs[0]


def main() -> None:
    out_path = sys.argv[1]
    sessions = [bench_doc(p) for p in sys.argv[2:]]
    folded: dict[str, float] = {}
    for s in sessions:
        for k, v in s["queries"].items():
            folded[k] = min(v, folded.get(k, v))
    art = {"queries": folded, "sessions": sessions}
    if os.path.exists("BENCH/plan_hashes.json"):
        with open("BENCH/plan_hashes.json") as fh:
            art["plan_hashes"] = json.load(fh)
    with open(out_path, "w") as fh:
        json.dump(art, fh)
    total = round(sum(folded.values()), 3)
    print(f"wrote {out_path}: {len(sessions)} session(s), "
          f"folded head total {total} s")


if __name__ == "__main__":
    main()
