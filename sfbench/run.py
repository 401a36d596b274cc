"""sparkfind benchmark: one workload, one seed, one JSON line of metrics.

    python3 sfbench/run.py --workload selective --seed 1 --seconds 10 --trace 0

Each run starts one Spark session (``local[4]``, one client thread, closed
loop) and drives the package's public API on seeded inputs (phases in
``workload.py``). The workload picks the query class (see ``README.md``).
Every output is checked against the oracle; check time counts in no metric.

With ``--trace 0`` the last stdout line holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics, and the spans go to
``.sfbench_work/traces/``. Exit code 0 means the run completed; wrong or
failed operations are counted in ``failed``, not hidden. Without the
package next to this directory the run exits with code 2 and prints no
result.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".sfbench_work")
PKG = "search_engine_trec_fair_ranking_19_spark"

WORKLOADS = ("selective", "head")  # the query classes of corpus.py


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _env() -> None:
    """Process environment for a self-contained run inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the JVMs (spark-submit's launcher, then the driver) write their temp
    # files under the work dir and no /tmp/hsperfdata_* perf-counter file
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = f"{opts} -XX:-UsePerfData -Djava.io.tmpdir={tmp}".strip()
    # Python workers import the package from the checkout
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"error: package {PKG!r} not found next to {HERE}", file=sys.stderr)
        return 2
    _env()
    # a SIGTERM unwinds like an error, so the Spark processes are stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    from workload import Run, become_subreaper  # noqa: E402  (needs the environment above)

    become_subreaper()

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), WORK)
    result = run.execute()
    for name, m in sorted(result["metrics"].items()):
        print(f"{name:40s} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
