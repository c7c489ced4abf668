#!/usr/bin/env python3
"""Seeded inputs for the benchmark workloads.

    python3 graftbench/gendata.py tables <sf> <seed> <outdir>
        The engine's synthetic tables at scale factor <sf>: runs
        tools/gen_sf.py unchanged, with its fixed random generator replaced
        by one seeded from <seed>.

    python3 graftbench/gendata.py provision <seed> <outdir>
        Provisioning inputs: params.tsv (dist, zone, cluster suffix, start
        uid, start gid) and, per dist, users.parquet / groups.parquet
        snapshots of existing identities whose names are outside the
        catalogs and whose ids squat on the allocation range.

The same seed gives the same files.
"""
import os
import runpy
import sys
from contextlib import redirect_stdout

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DISTS = ("cdh", "cdp", "hdp")
# ids a catalog allocates fit well inside this span above the start id
SQUAT_SPAN = 160


def tables(gen_sf: str, sf: str, seed: int, out: str) -> None:
    fixed_rng = np.random.default_rng
    np.random.default_rng = lambda *_args, **_kw: fixed_rng(seed)
    argv = sys.argv
    sys.argv = [gen_sf, sf, out]
    try:
        with open(os.devnull, "w") as quiet, redirect_stdout(quiet):
            runpy.run_path(gen_sf, run_name="__main__")
    finally:
        np.random.default_rng = fixed_rng
        sys.argv = argv


def provision(seed: int, out: str) -> None:
    rng = np.random.default_rng(seed)
    rows = []
    for dist in DISTS:
        zone = f"zone{int(rng.integers(1, 1000))}"
        suffix = f"cluster{int(rng.integers(1, 100))}"
        start_uid = int(rng.integers(2000, 60000))
        start_gid = int(rng.integers(2000, 60000))
        rows.append(f"{dist}\t{zone}\t{suffix}\t{start_uid}\t{start_gid}\n")
        os.makedirs(os.path.join(out, dist), exist_ok=True)
        for kind, start in (("users", start_uid), ("groups", start_gid)):
            n = int(rng.integers(8, 40))
            ids = start + rng.choice(SQUAT_SPAN, n, replace=False)
            pq.write_table(
                pa.table({
                    "name": [f"squat-{kind}-{i}" for i in range(n)],
                    "id": pa.array(ids, pa.int64()),
                }),
                os.path.join(out, dist, f"{kind}.parquet"))
    with open(os.path.join(out, "params.tsv"), "w") as f:
        f.writelines(rows)


def main(argv):
    here = os.path.dirname(os.path.abspath(__file__))
    if len(argv) == 5 and argv[1] == "tables":
        tables(os.path.join(here, "..", "tools", "gen_sf.py"), argv[2], int(argv[3]), argv[4])
    elif len(argv) == 4 and argv[1] == "provision":
        provision(int(argv[2]), argv[3])
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main(sys.argv)
