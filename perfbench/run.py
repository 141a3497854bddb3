"""Benchmark entry point.

Usage (from the repository root)::

    python3 perfbench/run.py --workload report_etl --seed 1 --seconds 16 --trace 0

The parent process generates the inputs from the seed under
``.perfbench_work/`` and starts one session process, the single client,
that runs the workload closed-loop on ``local[$(nproc)]``: a run (fresh
tables, empty stores) then a re-run, repeated while another pair is
predicted to end within ``--seconds`` (at least one pair). Every output
is checked outside the timed region.

With ``--trace 1`` the session runs an untraced run, a traced pair and
another untraced run, and prints the per-layer metrics of the traced
pair; ``trace.overhead_s`` is the traced run minus the untraced run
after it, so both run on an equally warm JVM.

The last stdout line is the result object; the line before it carries
the run's stamp (versions, core counts, commit, host probes) and the
figures behind the metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import metrics  # noqa: E402

WORKLOADS = ("report_etl", "catalog")
#: A session process that runs longer than this is killed.
SESSION_TIMEOUT_S = 150



def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    ``BENCHMARK.json`` declares."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# --------------------------------------------------------- host probe

_PROBE_CHUNK = b"\x5a" * (1 << 20)
_PROBE_MIB = 32


def _hash_mib(n: int) -> None:
    h = hashlib.sha256()
    for _ in range(n):
        h.update(_PROBE_CHUNK)


def host_probe() -> dict:
    """Fixed-work sha256 timing on one thread and on ``nproc`` threads
    (hashlib releases the interpreter lock). A diagnostic next to the
    result; it never filters a run."""
    t0 = time.perf_counter()
    _hash_mib(_PROBE_MIB)
    single = time.perf_counter() - t0
    threads = [threading.Thread(target=_hash_mib, args=(_PROBE_MIB,)) for _ in range(nproc())]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return {"single_s": round(single, 4), "threads": len(threads),
            "multi_s": round(time.perf_counter() - t0, 4)}


def commit_id() -> str:
    """The git commit when run in a clone, else a hash of the program's
    and benchmark's Python sources."""
    if (ROOT / ".git").exists():
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=30)
        if out.returncode == 0:
            return out.stdout.strip()
    h = hashlib.sha256()
    files = sorted(ROOT.glob("train_reports_etl_spark/**/*.py")) + sorted(
        ROOT.glob("tools/*.py")) + sorted(ROOT.glob("perfbench/**/*.py")) + [
        ROOT / "__spark_entry__.py"]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return "tree-" + h.hexdigest()[:16]


# ------------------------------------------------------------- parent


def _session_env(work: Path) -> dict:
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    # Python workers start in the session's working directory, so the
    # program must be importable from the path.
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = str(tmp)
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf 'spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'} pyspark-shell"
    )
    return env


def run_session(work: Path, spec: dict, tag: str) -> dict:
    """Run one session process on ``spec`` and return its result."""
    spec_path = work / f"{tag}.spec.json"
    out_path = work / f"{tag}.result.json"
    log_path = work / f"{tag}.log"
    spec = dict(spec, out=str(out_path), spawn_time=time.time())
    spec_path.write_text(json.dumps(spec))
    with open(log_path, "w") as log:
        # Own process group: the JVM and Python workers the session
        # starts go down with it, whatever way it ends.
        proc = subprocess.Popen(
            [sys.executable, str(Path(__file__).resolve()), "--session", str(spec_path)],
            cwd=str(work), env=_session_env(work), stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=SESSION_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            with contextlib.suppress(ProcessLookupError):
                os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if code != 0 or not out_path.exists():
        tail = log_path.read_text()[-4000:]
        raise RuntimeError(f"session {tag} failed ({code}):\n{tail}")
    return json.loads(out_path.read_text())


def prepare_inputs(workload: str, seed: int, work: Path) -> dict:
    from perfbench import gen_inputs

    if workload == "report_etl":
        inbox = work / "inbox"
        expected = gen_inputs.make_inbox(str(inbox), seed)
        return {"inbox": str(inbox), "expected": expected}
    tables = work / "tables"
    gen_inputs.make_tables(str(tables), seed)
    from perfbench.workloads import CATALOG_OPS, oracle_frames

    names = [n for n, _ in CATALOG_OPS if not n.startswith("store:")]
    return {"tables": str(tables),
            "oracles": oracle_frames(str(tables), names, str(work / "oracles"))}


def summarize(session: dict) -> dict:
    """End-to-end metrics and their supporting figures."""
    iters = session["iterations"]
    ops = [s for it in iters for p in ("run", "rerun") for s in it[p]["op_s"]]
    passes = [p for it in iters + session.get("warm", []) for p in it.values()]
    attempted = sum(p["attempted"] for p in passes)
    failed = sum(len(p["failed"]) for p in passes)
    tail, pct, beyond = metrics.tail(ops)
    values = {
        "setup_s": session["setup"]["setup_s"],
        "run_s": statistics.median([it["run"]["wall_s"] for it in iters]),
        "rerun_s": statistics.median([it["rerun"]["wall_s"] for it in iters]),
        "op_p50_s": statistics.median(ops),
        "op_tail_s": tail,
    }
    return {
        "values": values,
        "attempted": attempted,
        "failed": failed,
        "detail": {
            "ops_failed_frac": metrics.failed_frac(attempted, failed),
            "failed_ops": sorted({n for p in passes for n in p["failed"]}),
            "iterations": [{p: round(it[p]["wall_s"], 4) for p in ("run", "rerun")}
                           for it in iters],
            "op_samples": len(ops),
            "op_tail_percentile": pct,
            "op_tail_beyond": beyond,
        },
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    # Fails here, before any output, where the program is absent.
    import pyspark

    from perfbench import gen_inputs, workloads  # noqa: F401

    probe_begin = host_probe()
    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    t0 = time.perf_counter()
    inputs = prepare_inputs(args.workload, args.seed, work)
    gen_s = time.perf_counter() - t0

    spec = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "work": str(work), **inputs}
    session = run_session(work, spec, "session")
    summary = summarize(session)
    values = session["layers"] if args.trace else summary["values"]
    units = metric_units("per_layer" if args.trace else "end_to_end")
    missing = set(units) - set(values)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")

    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", str(nproc())),
        "python": platform.python_version(), "spark": pyspark.__version__,
        "commit": commit_id(), "inputs_s": round(gen_s, 3),
        **session["stamp"],
        "host_probe": {"begin": probe_begin, "end": host_probe()},
    }
    (work / "result.json").write_text(json.dumps(
        {"stamp": stamp, "summary": summary, "session": session}, indent=1, default=str))
    for sub in ("inbox", "tables", "oracles", "out", "tmp", "spark-local", "warehouse"):
        shutil.rmtree(work / sub, ignore_errors=True)
    print(json.dumps({"perfbench": stamp, "detail": summary["detail"],
                      "end_to_end": summary["values"],
                      "trace": session.get("accounting")}, default=str))
    print(json.dumps({
        "correct": summary["failed"] == 0,
        "attempted": summary["attempted"],
        "failed": summary["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--session":
        from perfbench import session as _session

        _session.main(sys.argv[2])
    else:
        raise SystemExit(main(sys.argv[1:]))
