"""Spark job count per gate: each ``queries()`` entry runs and collects
under its own ``setJobGroup``, and ``statusTracker().getJobIdsForGroup``
gives the jobs it ran (the final collect included). Prints one line per
gate, then one JSON object.

    python scripts/gate_job_counts.py <sf_dir>              # fixpoint gates
    python scripts/gate_job_counts.py <sf_dir> term_depth   # chosen gates

Run it in two checkouts to compare job counts before and after a
change; wall times are for orientation only (one rep, shared JVM).
"""

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

FIXPOINT_GATES = [
    "ancestor_closure",
    "incremental_closure",
    "incremental_closure_delete",
    "term_depth",
    "transitive_reduction",
    "kcore_terms",
    "cycle_members",
    "redirect_map",
]


def main():
    import __spark_entry__ as entrymod
    from ontology_loader_spark.session import get_spark

    sf = sys.argv[1]
    gates = sys.argv[2:] or FIXPOINT_GATES
    spark = get_spark("gate-job-counts", master="local[4]")
    sc = spark.sparkContext
    fns = entrymod.queries()
    out = {}
    for gate in gates:
        sc.setJobGroup(gate, gate)
        t0 = time.time()
        rows = len(fns[gate](spark, sf).collect())
        out[gate] = {
            "jobs": len(sc.statusTracker().getJobIdsForGroup(gate)),
            "rows": rows,
            "wall_s": round(time.time() - t0, 1),
        }
        print(gate, out[gate], flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
