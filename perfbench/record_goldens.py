"""Record perfbench/goldens.json: the result fingerprint of every registry
key on the benchmark's generated tables.

    python3 perfbench/record_goldens.py

Run it from the repository root, on the commit whose results are the
reference. Each key is first compared with its DuckDB oracle by
tools/check.py on the same tables, then fingerprinted twice in two
different key orders. A key that disagrees with its oracle, or whose two
fingerprints differ, is recorded under ``known_failures`` with the reason,
not as a golden.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    from perfbench import datagen, workloads as wl
    from perfbench.keys import OPERATOR_KEYS, RELATIONAL_KEYS
    from perfbench.run import start_session, stop_session
    from perfbench.stats import seeded_order

    work = os.path.join(ROOT, "perfbench", ".work-goldens")
    data_dir = os.path.join(work, "goldens-data")
    datagen.write_tables(data_dir, wl.QUERY_SF)
    check = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check.py"), data_dir],
        capture_output=True, text=True, cwd=ROOT,
    )
    known = {m[0]: f"oracle: {m[1]}" for m in re.findall(r"^FAIL (\S+): (.*)$", check.stdout, re.M)}
    print(check.stdout.splitlines()[-1] if check.stdout else check.stderr[-2000:], file=sys.stderr)

    cpus = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    spark = start_session(cpus, work)
    from imperio_patitas_etl_spark.queries import all_queries

    qs = all_queries()
    keys = RELATIONAL_KEYS + OPERATOR_KEYS
    seen: dict[str, list] = {k: [] for k in keys}
    try:
        for order_seed in (1, 2):
            for key in seeded_order(keys, order_seed):
                try:
                    seen[key].append(wl.fingerprint(qs[key](spark, data_dir))[0])
                except Exception as e:  # recorded as a known failure
                    seen[key].append(f"{type(e).__name__}: {str(e)[:200]}")
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    goldens = {}
    for key, (a, b) in seen.items():
        if key in known:
            continue
        if a != b or not isinstance(a, list):
            known[key] = f"unstable or failing fingerprint: {a} vs {b}"
        else:
            goldens[key] = a
    out = {"sf": wl.QUERY_SF, "keys": goldens, "known_failures": dict(sorted(known.items()))}
    with open(os.path.join(ROOT, "perfbench", "goldens.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(goldens)} goldens, {len(known)} known failures", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
