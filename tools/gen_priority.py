"""Regenerate the `_PRIORITY` block in __spark_entry__.py.

Round-open mechanical step (r7 verdict items 1-2): order the driver's
50-slot CORRECTNESS sample so never-sampled registry entries come
first, then every row oldest-green first — the whole registry's
driver-green then ages out on a rolling basis instead of q01-q14
going stale for five rounds.

    python tools/gen_priority.py

Reads CORRECTNESS_r*.json for each entry's latest sampled round and
rewrites the block between the "# Front-loads" comment and its
closing "]". Idempotent; run alongside tools/gen_operator_index.py at
round start.
"""

from __future__ import annotations

import glob
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

ENTRY = os.path.join(ROOT, "__spark_entry__.py")


def latest_rounds() -> dict[str, int]:
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rnd = int(path.rsplit("_r", 1)[1].split(".")[0])
        for name in json.load(open(path)):
            latest[name] = rnd
    return latest


def main() -> None:
    import duckdb_httpd_log_spark.operators  # noqa: F401
    from duckdb_httpd_log_spark.plans.registry import REGISTRY

    latest = latest_rounds()
    cur_round = max(latest.values(), default=0)
    names = list(REGISTRY)
    never = sorted(n for n in names if n not in latest)
    by_age = sorted(
        (n for n in names if n in latest), key=lambda n: (latest[n], n)
    )

    lines = [
        "# Front-loads the driver's 50-query CORRECTNESS sample (taken in",
        "# dict order). GENERATED by `python tools/gen_priority.py` (run at",
        f"# round open, after CORRECTNESS_r{cur_round:02d}.json landed):",
        "# never-sampled registry entries first, then every row oldest-green",
        "# first, so each row's driver verdict ages out on a rolling basis",
        "# under the pandas-dtype guards (tests/test_registry_sweep.py,",
        "# operators/probes.py).",
        "_PRIORITY = [",
    ]
    if never:
        lines.append("    # never driver-sampled")
        lines.extend(f'    "{n}",' for n in never)
    marker = None
    for n in by_age:
        if latest[n] != marker:
            marker = latest[n]
            lines.append(f"    # last green r{marker}")
        lines.append(f'    "{n}",')
    lines.append("]")
    block = "\n".join(lines)

    src = open(ENTRY).read()
    start = src.index("# Front-loads the driver's 50-query")
    end = src.index("\n]\n", start) + len("\n]\n") - 1
    open(ENTRY, "w").write(src[:start] + block + src[end:])
    print(f"rewrote _PRIORITY: {len(never)} never-sampled + {len(by_age)} aged")


if __name__ == "__main__":
    main()
