"""KG-construction benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Run it from the repository root (any shell; it sets up the environment the
Spark JVM and its Python workers need). ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` runs the same calls inside spans and prints the
per-layer metrics; the span tree goes to ``.perfbench/traces/``. Inputs are
generated from the seed and cached under ``.perfbench/cache/``. The last
line of standard output is the result:

    {"correct": true, "attempted": 9, "failed": 0, "metrics": {...}}
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "triples_per_s": "triples/s",
    "wall_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    **{f"{k}.us_per_doc": "us" for k in (
        "tokenizer", "scorer", "decode", "rewrite", "decode_document",
        "extract_text_bytes")},
    "extract_text.s": "s",
    "extract_text.docs_from_html": "count",
    "extract_triples.s": "s",
    "extract_triples.docs_in": "count",
    "extract_triples.docs_skipped": "count",
    "extract_triples.triples_out": "count",
    "extract.tps_local1": "triples/s",
    "scaling_eff": "ratio",
    "kg.edges_s": "s",
    "kg.vertices_s": "s",
    "kg.correct_s": "s",
    "kg.self_check_s": "s",
    "kg.edges": "count",
    "kg.vertices": "count",
    "kg.corrected_changed": "count",
    "linking.candidates_s": "s",
    "linking.verify_s": "s",
    "linking.cc_s": "s",
    "linking.canonicalize_s": "s",
    "linking.entities": "count",
    "linking.candidate_pairs": "count",
    "linking.verified_pairs": "count",
    "linking.verified_per_candidate": "ratio",
    "linking.candidates_per_entity2": "ratio",
    "linking.cc_rounds": "count",
    "linking.components": "count",
    **{f"pipeline.{s}_s": "s" for s in (
        "documents", "triples", "edges", "vertices", "corrected",
        "canonical_edges", "lineage")},
    "catalog.bytes_written": "bytes",
    "catalog.tables_written": "count",
    "session.setup_s": "s",
    "session.warmup_s": "s",
    "session.first_setup_s": "s",
    "session.first_over_later": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.task_s": "s",
    "spark.cpu_util": "ratio",
    "spark.max_task_share": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "failed_share": "ratio",
    "probe.spread": "ratio",
    "trace.wall_s": "s",
    "trace.timed_s": "s",
    "trace.bookkeeping_s": "s",
    "trace.coverage": "ratio",
}


def prepare_environment(work: str) -> None:
    """What a bare shell lacks: the package on the Python workers' path,
    Spark's scratch and temp directories inside the checkout, and one
    interpreter for driver and workers."""
    for sub in ("spark-local", "tmp", "cache", "run", "traces"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    path = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(path))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    # JVM temp files into the checkout; no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path[:0] = [ROOT, HERE]


def stop_jvm(pids: set[int], timeout: float = 30.0) -> None:
    """Close the py4j gateway JVM and wait until it and every Python worker
    it started have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is not None:
        try:
            gw.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        if proc.stdin:
            proc.stdin.close()   # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=timeout)
        except Exception:
            proc.kill()
            proc.wait(timeout=timeout)
    deadline = time.time() + timeout
    alive = {p for p in pids if p != os.getpid()}
    while alive:
        alive = {p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)}
        if not alive:
            break
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + timeout
        time.sleep(0.1)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return True
    return stat[stat.rindex(")") + 2] == "Z"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("extract", "kg_build", "increment"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "relation_extraction_spark")):
        print(f"perfbench: no relation_extraction_spark package in {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2

    prepare_environment(os.path.join(ROOT, ".perfbench"))
    import workloads

    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace),
                        os.path.join(ROOT, ".perfbench"))
    try:
        e2e = run.execute(workloads.WORKLOADS[args.workload])
    finally:
        stop_jvm(run.rss.pids_seen)
    for p in run.problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    values, units = (run.layer, LAYER_UNITS) if args.trace else (e2e, E2E_UNITS)
    missing = sorted(set(units) - set(values))
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    for k in units:
        print(f"perfbench: {args.workload} {k} = {values[k]:.6g} {units[k]}", file=sys.stderr)
    print(json.dumps({
        "correct": run.correct and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
