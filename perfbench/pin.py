"""Re-pin perfbench/digests.json (run through `python3 perfbench/run.py --pin`).

1. Run each key workload's warm-up once and digest every key's result rows,
   plus the batch keys the ingest lifecycle's served results must equal.
2. Dump the same keys with graft.Verify and check them against DuckDB with
   scripts/oracle_check.py.
3. Write the digests only if every key passes.
"""
import json
import os
import subprocess
import sys
from pathlib import Path

import metrics as M
import run as R


def pin(cp, run_jvm):
    digests = {}
    jobs = [("iterative", None), ("iterative", sorted(R.INGEST_BATCH.values()))]
    for workload, keys in jobs:
        rec, _, _ = run_jvm(cp, workload, 1, 0, False, keys=keys)
        if rec["warm_failures"]:
            raise SystemExit(f"perfbench: warm-up failed: {rec['warm_failures']}")
        rows = Path(rec["rows_dir"])
        for key in sorted({o["name"] for o in rec["ops"]}):
            digests[key] = M.digest((rows / f"{key}.jsonl").read_text())
    out = R.WORK / "pin" / "verify"
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(sorted(digests)),
               SPARK_GRAFT_CPUS=str(R.cores()))
    cmd = ["java", *[a for p in R.ADD_OPENS for a in
                     ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           "-Xmx3g", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graft.Verify",
           str(R.DATA), str(out)]
    subprocess.run(cmd, cwd=R.ROOT, env=env, check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    check = subprocess.run(
        [sys.executable, str(R.ROOT / "scripts" / "oracle_check.py"),
         str(R.DATA), str(out), *sorted(digests)], cwd=R.ROOT)
    if check.returncode != 0:
        raise SystemExit("perfbench: oracle check failed; digests not pinned")
    R.DIGESTS.write_text(json.dumps(digests, indent=1, sort_keys=True) + "\n")
    print(f"perfbench: pinned {len(digests)} digests to {R.DIGESTS}")
    return 0
