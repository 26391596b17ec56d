"""Knowledge-graph construction benchmark.

    python3 perfbench/run.py --workload kg_pipeline --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. Prints, as the last line of standard
output, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Everything it writes stays under
``.perfbench/`` in the checkout; span traces of ``--trace 1`` runs are
kept in ``.perfbench/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PR_SET_CHILD_SUBREAPER = 36
# at exit: how long descendants get to end by themselves, then after SIGTERM
# and after SIGKILL
REAP_SCHEDULE = ((None, 30.0), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0))


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def become_subreaper() -> None:
    """Have descendants that lose their parent (Spark's Python workers,
    once the JVM has gone) re-parented to this process, so that
    ``reap_children`` can wait for them too."""
    try:
        ctypes.CDLL(None).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):  # not Linux: direct children only
        pass


def children() -> list[int]:
    me = os.getpid()
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # ended meanwhile
            continue
        # "pid (comm) state ppid ...": comm may hold spaces and parentheses
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(entry))
    return out


def reap_children() -> None:
    """Wait until every process this run started, and every descendant
    re-parented to it, has ended; signal those that outlive the grace."""
    for sig, grace_s in REAP_SCHEDULE:
        deadline = time.monotonic() + grace_s
        if sig is not None:
            for pid in children():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        while True:
            for pid in children():
                try:
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
            if not children():
                return
            if time.monotonic() >= deadline:
                break
            time.sleep(0.05)
    print(f"perfbench: processes still running at exit: {children()}", file=sys.stderr)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    become_subreaper()
    # a terminated run still stops Spark and waits for its processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "scripts")]
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep Spark's and the package's temporary files inside the checkout; the
    # JVM that spark-submit starts to build the driver's command line would
    # otherwise write a perf-data file under /tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    try:
        try:
            import morph_xr2rml_spark  # noqa: F401
        except ImportError as e:  # the engine or its toolchain is missing
            print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
            return 2
        engine_import_s = time.perf_counter() - T_START
        import workloads  # the benchmark's own modules: not set-up time
        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; choose from "
                  f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
            return 2
        bench = workloads.Bench(args, work, engine_import_s)
        try:
            workloads.WORKLOADS[args.workload](bench)
            result = bench.result()
        finally:
            bench.close()
    finally:
        reap_children()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
