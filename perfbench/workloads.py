"""The benchmark's workloads and its layer-traced run.

Each workload is a closed loop: one job at a time from this one driver
process. ``Run`` holds what a run measures; ``extract``, ``kg_build`` and
``increment`` fill it in. With tracing on, the same timed calls run inside
spans, and ``attribute`` then calls each layer's public operators in
isolation on the committed tables to time them one by one.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

from pyspark.sql import Observation, functions as F

import checks
import inputs
from kernel import kernel_us_per_doc
from trace import RssSampler, Tracer, spin_probe

from relation_extraction_spark.api import KGEngine
from relation_extraction_spark.operators import kg, linking
from relation_extraction_spark.operators.extract_triples import (
    extract_text_bytes, extract_text_df, extract_triples)
from relation_extraction_spark.plans import catalog as catalog_mod
from relation_extraction_spark.plans.catalog import Catalog
from relation_extraction_spark.plans.pipeline import KGPipeline
from relation_extraction_spark.schema import DOCUMENTS_SCHEMA
from relation_extraction_spark.session import get_spark

CORES = 4
SETUP_REPEATS = 3
KERNEL_SAMPLE = 1_500
SCALING_PASSES = 2
WARM_PASSES = 2
PIPELINE_STAGES = ("documents", "triples", "edges", "vertices", "corrected",
                   "canonical_edges")
IDLE_ON_EXTRACT = (
    "kg.edges_s", "kg.vertices_s", "kg.correct_s", "kg.self_check_s", "kg.edges",
    "kg.vertices", "kg.corrected_changed", "linking.candidates_s", "linking.verify_s",
    "linking.cc_s", "linking.canonicalize_s", "linking.entities",
    "linking.candidate_pairs", "linking.verified_pairs", "linking.verified_per_candidate",
    "linking.candidates_per_entity2", "linking.cc_rounds", "linking.components",
    *(f"pipeline.{s}_s" for s in PIPELINE_STAGES), "pipeline.lineage_s",
    "catalog.bytes_written", "catalog.tables_written")


def median(xs):
    return statistics.median(xs)


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 work: str) -> None:
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work = work
        self.cache = os.path.join(work, "cache")
        self.scratch = os.path.join(work, "run", f"{workload}-s{seed}-{os.getpid()}")
        self.tracer = Tracer() if traced else None
        self.rss = RssSampler()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}

    # --- plumbing -------------------------------------------------------------

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext({})

    def fail(self, msg: str) -> None:
        self.correct = False
        self.problems.append(msg)

    def start_session(self, cores: int):
        spark = get_spark(
            app_name=f"perfbench-{self.workload}", master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "20000",
                "spark.ui.retainedStages": "20000",
                # the driver heap starts at its maximum (SPARK_DRIVER_MEM),
                # touched at launch: a heap that grows on demand made peak
                # RSS swing by a third between runs of the same work
                "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch",
            })
        spark.sparkContext.setLogLevel("ERROR")
        if self.rss.root_pid is None:
            self.rss.root_pid = spark.sparkContext._gateway.proc.pid
        else:
            _drop_stale_udfs()
        return spark

    def read_docs(self, path: str):
        return self.spark.read.schema(DOCUMENTS_SCHEMA).parquet(path)

    def setup(self, docs_path: str, warm=None, cores: int = CORES,
              repeats: int = SETUP_REPEATS) -> None:
        """Start the session ``repeats`` times (the last one stays up), then
        warm it: ``warm(sample)`` runs the workload's timed path, given a
        2 % sample that touches every input file, so that the timed calls
        pay no first use; the default extracts the sample and runs one
        shuffle.
        setup_s is the median session start plus the warm-up. The warm-up
        runs once: on kg_build a second one would cost about a build."""
        starts = []
        for k in range(repeats):
            if self.spark is not None:
                self.spark.stop()
            with self.span("session.start", cores=cores, k=k):
                t0 = time.perf_counter()
                self.spark = self.start_session(cores)
                starts.append(time.perf_counter() - t0)
        with self.span("session.warmup", cores=cores):
            t0 = time.perf_counter()
            (warm or self.warm_extract)(self.sample(docs_path))
            warm_s = time.perf_counter() - t0
        if cores == CORES:
            self.e2e["setup_s"] = median(starts) + warm_s
            self.layer["session.setup_s"] = median(starts)
            self.layer["session.warmup_s"] = warm_s
            self.layer["session.first_setup_s"] = starts[0]
            self.layer["session.first_over_later"] = starts[0] / median(starts[1:])

    def warm_extract(self, sample) -> None:
        KGEngine(self.spark).extract(sample).groupBy("predicate").count().collect()

    def sample(self, docs_path: str):
        return self.read_docs(docs_path).where(F.crc32("url") % 50 == 0)

    def warm_pipeline(self, sample) -> str:
        """KGPipeline.run on ``sample`` into a throwaway catalog; returns it."""
        root = os.path.join(self.scratch, "warmup")
        KGPipeline(self.spark, root).run(sample, resume=False)
        return root

    def timed(self, fn, check) -> float:
        """One attempt of the workload's timed call; ``check`` runs
        untimed on its result and returns an error message or None."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
            wall = time.perf_counter() - t0
            problem = check(out)
        except Exception:  # a failed attempt is counted, not fatal
            wall = time.perf_counter() - t0
            problem = traceback.format_exc(limit=3)
        if problem:
            self.failed += 1
            self.fail(problem)
        return wall

    def loop(self, fn, check) -> list[float]:
        """Closed loop: attempts back to back until ``seconds`` have passed
        (at least one)."""
        walls: list[float] = []
        end = time.perf_counter() + self.seconds
        while not walls or time.perf_counter() < end:
            walls.append(self.timed(fn, check))
        if self.tracer:
            self.layer["trace.timed_s"] = median(walls)
        return walls

    # --- tracing ----------------------------------------------------------------

    def install_catalog_spans(self):
        """Wrap ``Catalog.write`` so each table commit is a span with the
        bytes it wrote. Returns the undo function."""
        tracer, orig = self.tracer, Catalog.write

        def write(cat, name, df, partition_by=None):
            with tracer.span("catalog.write", table=name) as rec:
                orig(cat, name, df, partition_by)
            b0 = time.perf_counter()
            rec["bytes"] = _table_bytes(cat.path(name))
            tracer.bookkeeping_s += time.perf_counter() - b0

        catalog_mod.Catalog.write = write
        return lambda: setattr(catalog_mod.Catalog, "write", orig)

    def stage_spans(self, run_span: dict) -> None:
        """Derive one span per pipeline stage from the commit boundaries:
        a stage runs from the previous commit to its own table's commit
        (its compute happens lazily inside the write, or eagerly just
        before it); lineage and cut writes get their own spans."""
        writes = [s for s in self.tracer.named("catalog.write")
                  if s["parent"] == run_span["id"]]
        prev = run_span["start"]
        for w in writes:
            t = w["table"]
            name = ("pipeline.lineage" if t.startswith("lineage_")
                    else f"pipeline.{t}")
            st = self.tracer.add(name, prev, w["end"], run_span["id"])
            w["parent"] = st["id"]
            prev = w["end"]
        self.layer["catalog.bytes_written"] = sum(w["bytes"] for w in writes)
        self.layer["catalog.tables_written"] = len(writes)
        for s in PIPELINE_STAGES:
            self.layer[f"pipeline.{s}_s"] = self.tracer.seconds(f"pipeline.{s}")
        self.layer["pipeline.lineage_s"] = self.tracer.seconds("pipeline.lineage")

    def noop(self, name: str, df) -> float:
        with self.span(name) as rec:
            df.write.format("noop").mode("overwrite").save()
        return rec["end"] - rec["start"]

    def attribute_extract(self, raw_docs, documents, triples_out: int) -> None:
        """Time the html→text front door on ``raw_docs`` and the fused
        extraction stage on the text ``documents``, each in isolation."""
        L = self.layer
        with self.span("attribute.extract"):
            L["extract_text.s"] = self.noop("extract_text", extract_text_df(raw_docs))
            L["extract_text.docs_from_html"] = raw_docs.where(
                F.col("text").isNull() | (F.length("text") == 0)).count()
            L["extract_triples.s"] = self.noop("extract_triples", extract_triples(documents))
            L["extract_triples.docs_in"] = documents.count()
            L["extract_triples.docs_skipped"] = documents.where(
                (F.col("lang") != "zh") | F.col("text").isNull()
                | (F.length("text") == 0)).count()
            L["extract_triples.triples_out"] = triples_out

    def attribute(self, raw_docs, root: str) -> None:
        """Time each layer's operators in isolation on the committed
        tables of the catalog at ``root`` (traced runs only)."""
        L, cat = self.layer, Catalog(self.spark, root)
        documents, triples = cat.read("documents"), cat.read("triples")
        edges, vertices = cat.read("edges").drop("bucket"), cat.read("vertices")
        corrected = cat.read("corrected")
        self.attribute_extract(raw_docs, documents, triples.count())
        with self.span("attribute.kg"):
            L["kg.edges_s"] = self.noop("kg.edges", kg.kg_edges(triples))
            L["kg.vertices_s"] = self.noop("kg.vertices", kg.kg_vertices(triples))
            with_text = triples.join(documents.select("url", "text"), "url", "left")
            L["kg.correct_s"] = self.noop(
                "kg.correct", kg.kg_correct(with_text, edges, vertices))
            with self.span("kg.self_check") as rec:
                checked = kg.self_check(kg.kg_edges(corrected).localCheckpoint(eager=True),
                                        vertices).localCheckpoint(eager=True)
            L["kg.self_check_s"] = rec["end"] - rec["start"]
            L["kg.edges"] = edges.count()
            L["kg.vertices"] = vertices.count()
            L["kg.corrected_changed"] = corrected.select(
                checks.row_hash(corrected, checks.TRIPLE_COLS).alias("k")).join(
                triples.select(checks.row_hash(triples, checks.TRIPLE_COLS).alias("k")),
                "k", "left_anti").count()
        with self.span("attribute.linking"):
            entities = checked.select(F.col("subject").alias("entity")).union(
                checked.select("object")).dropDuplicates().localCheckpoint(eager=True)
            with self.span("linking.candidates") as rec:
                cands = linking.lsh_candidate_pairs(entities).localCheckpoint(eager=True)
            L["linking.candidates_s"] = rec["end"] - rec["start"]
            with self.span("linking.verify") as rec:
                verified = linking.verified_alias_pairs(cands).localCheckpoint(eager=True)
            L["linking.verify_s"] = rec["end"] - rec["start"]
            stats: dict = {}
            with self.span("linking.cc") as rec:
                comp = linking.connected_components_star(
                    verified, stats=stats).localCheckpoint(eager=True)
            L["linking.cc_s"] = rec["end"] - rec["start"]
            mapping = entities.join(comp, "entity", "left").select(
                "entity", F.coalesce("component", F.col("entity")).alias("canonical")
            ).localCheckpoint(eager=True)
            L["linking.canonicalize_s"] = self.noop(
                "linking.canonicalize", linking.canonicalize_edges(checked, mapping))
            n_ent, n_cand = entities.count(), cands.count()
            L["linking.entities"] = n_ent
            L["linking.candidate_pairs"] = n_cand
            L["linking.verified_pairs"] = verified.count()
            L["linking.verified_per_candidate"] = (
                L["linking.verified_pairs"] / n_cand if n_cand else 0.0)
            L["linking.candidates_per_entity2"] = n_cand / n_ent ** 2 if n_ent else 0.0
            L["linking.cc_rounds"] = stats.get("rounds", 0)
            L["linking.components"] = comp.select("component").distinct().count()

    def kernel(self, rows: list[dict]) -> None:
        with self.span("kernel"):
            zh = [r for r in rows if r["lang"] == "zh"]
            step = max(len(zh) // KERNEL_SAMPLE, 1)
            sample = zh[::step][:KERNEL_SAMPLE]
            texts = [r["text"] or extract_text_bytes(r["html"]) for r in sample]
            self.layer.update(kernel_us_per_doc([r["html"] for r in sample], texts))

    def scaling(self, docs_path: str) -> None:
        """KGEngine.extract into a noop sink at local[4], then on the same
        input at local[1] after that session's own warm-up;
        scaling_eff = tps(local[4]) / (4 × tps(local[1]))."""
        with self.span("scaling"):
            tps = {}
            n = KGEngine(self.spark).extract(self.read_docs(docs_path)).count()
            for cores in (CORES, 1):
                if cores != CORES:
                    self.setup(docs_path, cores=cores, repeats=1)
                docs = self.read_docs(docs_path)
                eng = KGEngine(self.spark)
                walls = []
                for _ in range(SCALING_PASSES):
                    t0 = time.perf_counter()
                    eng.extract(docs).write.format("noop").mode("overwrite").save()
                    walls.append(time.perf_counter() - t0)
                tps[cores] = n / median(walls)
            self.layer["extract.tps_local1"] = tps[1]
            self.layer["scaling_eff"] = tps[CORES] / (CORES * tps[1])

    def spark_layer(self, span: dict) -> None:
        for k in ("shuffle_write_bytes", "task_s", "cpu_util", "max_task_share",
                  "jobs", "stages"):
            self.layer[f"spark.{k}"] = span["spark"][k]

    # --- run ------------------------------------------------------------------------

    def execute(self, body) -> dict:
        """Run ``body`` with the RSS sampler and the spin probe around it;
        returns the end-to-end metrics (per-layer ones stay in ``layer``)."""
        probes = [spin_probe()]
        self.rss.start()
        try:
            body(self)
            if self.tracer:
                self.layer["trace.wall_s"] = self.tracer.now()
                self.layer["trace.bookkeeping_s"] = self.tracer.bookkeeping_s
                self.layer["trace.coverage"] = self.tracer.coverage(self.tracer.now())
        finally:
            if self.spark is not None:
                self.spark.stop()
            self.rss.stop()
            shutil.rmtree(self.scratch, ignore_errors=True)
        probes.append(spin_probe())
        e2e = dict(self.e2e)
        e2e["peak_rss_mb"] = self.rss.peak_bytes / 2**20
        self.layer["failed_share"] = self.failed / max(self.attempted, 1)
        self.layer["probe.spread"] = max(probes) / min(probes)
        if self.tracer:
            self.tracer.dump(os.path.join(self.work, "traces",
                                          f"{self.workload}-s{self.seed}.json"),
                             workload=self.workload, seed=self.seed, e2e=e2e,
                             layer=self.layer, problems=self.problems)
        return e2e


def _drop_stale_udfs() -> None:
    """PySpark caches a module-level UDF's JVM function, and with it the
    accumulator of the SparkContext that first used it; after a restart in
    the same process every task would then report to a dead accumulator
    server. Clearing the cache makes the next use bind to the live context."""
    for name, mod in list(sys.modules.items()):
        if name.startswith("relation_extraction_spark"):
            for v in vars(mod).values():
                udf = getattr(v, "_unwrapped", None)
                if udf is not None and hasattr(udf, "_judf_placeholder"):
                    udf._judf_placeholder = None


def _table_bytes(table_dir: str) -> int:
    versions = [d for d in os.listdir(table_dir) if d[:1] == "v" and d[1:].isdigit()]
    top = os.path.join(table_dir, max(versions, key=lambda d: int(d[1:])))
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(top) for f in fs)


# --- workloads ---------------------------------------------------------------------

def extract(run: Run) -> None:
    """Pages → formal triples: KGEngine.extract into a noop sink."""
    with run.span("inputs"):
        def make(tmp):
            rows = inputs.extract_rows(run.seed)
            inputs.write_docs(rows, os.path.join(tmp, "docs"), files=inputs.EXTRACT_FILES)

        path = inputs.cached(
            run.cache, f"extract{inputs.EXTRACT_DOCS}x{inputs.EXTRACT_FILES}-s{run.seed}", make)
        rows = inputs.extract_rows(run.seed)
        gold = checks.keys_of_gold(inputs.gold_records(rows))
    docs_path = os.path.join(path, "docs")

    def warm(_sample):
        # the timed pass itself: pass times still fell over the first two
        # full passes after a warm-up on the sample alone
        for _ in range(WARM_PASSES):
            KGEngine(run.spark).extract(run.read_docs(docs_path)) \
                .write.format("noop").mode("overwrite").save()

    run.setup(docs_path, warm=warm)
    eng = KGEngine(run.spark)
    docs = run.read_docs(docs_path)

    with run.span("extract.verify"):
        obs = Observation("verify")
        out = eng.extract(docs)
        got = checks.keys_of_rows(
            out.observe(obs, *checks.digest_exprs(out, checks.TRIPLE_COLS)).collect())
        expected = obs.get
    p = checks.prf(got, gold)
    verified = p["precision"] == 1.0 and p["recall"] == 1.0
    if not verified:
        run.fail(f"extract P/R against the planted gold: {p}")
    last: dict = {}

    def one_pass():
        # a row count only: the multiset hash would add about 5 % to a pass
        o = Observation()
        with run.span("extract.pass") as rec:
            eng.extract(docs).observe(o, F.count(F.lit(1)).alias("rows")) \
                .write.format("noop").mode("overwrite").save()
        last["span"] = rec
        return o

    def check(o):
        if not verified:
            return "pass output unverified: the verification pass failed"
        rows = o.get["rows"]
        return None if rows == expected["rows"] else (
            f"pass emitted {rows} triples, the verified pass {expected['rows']}")

    with run.span("extract.timed"):
        walls = run.loop(one_pass, check)
    run.e2e["triples_per_s"] = expected["rows"] / median(walls)
    run.e2e["wall_s"] = median(walls)
    if run.tracer:
        documents = extract_text_df(docs).localCheckpoint(eager=True)
        run.attribute_extract(docs, documents, expected["rows"])
        # the timed call commits nothing and never reaches kg, linking or
        # the catalog: their layer metrics are 0 on this workload
        run.layer.update({k: 0.0 for k in IDLE_ON_EXTRACT})
        run.kernel(rows)
        finish_trace(run, last["span"])
        run.scaling(docs_path)


def finish_trace(run: Run, timed_span: dict) -> None:
    with run.span("trace.collect"):
        names = {"extract.pass", "pipeline.run", "kg.build", "increment.run",
                 "extract_text", "extract_triples", "kg.edges", "kg.vertices",
                 "kg.correct", "kg.self_check", "linking.candidates", "linking.verify",
                 "linking.cc", "linking.canonicalize"}
        names |= {f"pipeline.{s}" for s in PIPELINE_STAGES} | {"pipeline.lineage"}
        run.tracer.attach_spark(run.spark, names)
        run.spark_layer(timed_span)


def kg_build(run: Run) -> None:
    """Documents → committed canonical_edges with KGPipeline.run on a fresh
    catalog, over the wide-vocabulary corpus."""
    key = f"kg_build{inputs.KG_DOCS}x{inputs.KG_NAMES}-s{run.seed}"
    with run.span("inputs"):
        rows, aliases = inputs.kg_rows(run.seed)
        path = inputs.cached(run.cache, key, lambda tmp: inputs.write_docs(
            rows, os.path.join(tmp, "docs")))
        gold = checks.keys_of_gold(inputs.gold_records(rows))
    docs_path = os.path.join(path, "docs")
    digest_file = os.path.join(run.cache, key, "canonical_digest.json")
    run.setup(docs_path, warm=run.warm_pipeline)
    docs = run.read_docs(docs_path)
    state: dict = {}

    def build():
        root = os.path.join(run.scratch, f"catalog{run.attempted}")
        shutil.rmtree(root, ignore_errors=True)
        with run.span("kg.build") as rec:
            out = KGPipeline(run.spark, root).run(docs, resume=False)
        state.update(root=root, span=rec, out=out)
        return out

    def check(out):
        got = checks.keys_of_rows(out["triples"].collect())
        p = checks.prf(got, gold)
        if p["precision"] != 1.0 or p["recall"] != 1.0:
            return f"kg_build triples-stage P/R against the planted gold: {p}"
        canonical = out["canonical_edges"].select("subject", "predicate", "object")
        bad = checks.alias_problems(aliases, checked_edges(out).collect(),
                                    canonical.collect())
        if bad:
            return "canonical_edges: " + "; ".join(bad[:5])
        d = list(checks.digest(canonical, ("subject", "predicate", "object")))
        if "digest" in state and state["digest"] != d:
            return f"canonical_edges digest changed between builds: {state['digest']} != {d}"
        state["digest"] = d
        if os.path.exists(digest_file):
            if inputs.load_json(digest_file) != d:
                return f"canonical_edges digest {d} differs from an earlier run of this seed"
        else:
            inputs.save_json(digest_file, d)
        state["triples"] = len(got)
        return None

    undo = run.install_catalog_spans() if run.tracer else None
    try:
        with run.span("kg.timed"):
            walls = run.loop(build, check)
    finally:
        if undo:
            undo()
    run.e2e["wall_s"] = median(walls)
    run.e2e["triples_per_s"] = state.get("triples", len(gold)) / median(walls)
    if run.tracer:
        run.stage_spans(state["span"])
        with run.span("attribute.isolated"):
            run.attribute(docs, state["root"])
        run.kernel(rows)
        finish_trace(run, state["span"])
        run.scaling(docs_path)


def checked_edges(out: dict):
    """The edges linking saw in a build: self_check over the edges of the
    committed ``corrected`` table, recomputed outside the timed call."""
    return kg.self_check(kg.kg_edges(out["corrected"]), out["vertices"]).select(
        "subject", "predicate", "object")


def increment(run: Run) -> None:
    """One crawl batch folded into a committed catalog with
    KGPipeline.run_incremental. The base catalog and the reference full
    build over base ∪ new urls are made once per seed in set-up."""
    key = f"increment{inputs.INC_BASE_DOCS}+{inputs.INC_NEW_DOCS}+{inputs.INC_REVISITS}-s{run.seed}"
    with run.span("inputs"):
        base, batch = inputs.increment_rows(run.seed)
        base_urls = {r["url"] for r in base}
        new_rows = [r for r in batch if r["url"] not in base_urls]

        def build_inputs(tmp):
            inputs.write_docs(base, os.path.join(tmp, "base"))
            inputs.write_docs(batch, os.path.join(tmp, "batch"))
            inputs.write_docs(base + new_rows, os.path.join(tmp, "union"))

        path = inputs.cached(run.cache, key, build_inputs)

    def warm(sample):
        root = run.warm_pipeline(sample)
        KGPipeline(run.spark, root).run_incremental(run.sample(os.path.join(path, "batch")))

    run.setup(os.path.join(path, "base"), warm=warm)

    def prepare(tmp):
        """Base catalog and the reference digests (set-up, not timed)."""
        with run.span("increment.prepare"):
            KGPipeline(run.spark, os.path.join(tmp, "catalog")).run(
                run.read_docs(os.path.join(path, "base")), resume=False)
            ref_root = os.path.join(run.scratch, "reference")
            # its own span: the trace compares a fold with this full build
            with run.span("increment.reference"):
                out = KGPipeline(run.spark, ref_root).run(
                    run.read_docs(os.path.join(path, "union")), resume=False)
            inputs.save_json(os.path.join(tmp, "reference.json"), {
                "triples": list(checks.digest(out["triples"], checks.TRIPLE_COLS)),
                "canonical_edges": list(checks.digest(
                    out["canonical_edges"], ("subject", "predicate", "object"))),
            })
            shutil.rmtree(ref_root, ignore_errors=True)

    prepared = inputs.cached(run.cache, f"{key}-catalog", prepare)
    ref = inputs.load_json(os.path.join(prepared, "reference.json"))
    batch_df = run.read_docs(os.path.join(path, "batch"))
    state: dict = {}

    def fold():
        root = os.path.join(run.scratch, f"catalog{run.attempted}")
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(os.path.join(prepared, "catalog"), root)
        with run.span("increment.run") as rec:
            out = KGPipeline(run.spark, root).run_incremental(batch_df)
        state.update(root=root, span=rec)
        return out

    def check(out):
        return increment_problem(out, ref)

    undo = run.install_catalog_spans() if run.tracer else None
    try:
        with run.span("increment.timed"):
            walls = run.loop(fold, check)
    finally:
        if undo:
            undo()
    run.e2e["wall_s"] = median(walls)
    run.e2e["triples_per_s"] = ref["triples"][0] / median(walls)
    if run.tracer:
        run.stage_spans(state["span"])
        with run.span("attribute.isolated"):
            run.attribute(batch_df, state["root"])
        run.kernel(new_rows)
        finish_trace(run, state["span"])
        run.scaling(os.path.join(path, "batch"))


def increment_problem(out, ref) -> str | None:
    """The incremental result must equal a full build over base ∪ new."""
    got_t = list(checks.digest(out["triples"], checks.TRIPLE_COLS))
    got_c = list(checks.digest(out["canonical_edges"], ("subject", "predicate", "object")))
    if got_t != ref["triples"]:
        return f"increment triples digest {got_t} != full rebuild {ref['triples']}"
    if got_c != ref["canonical_edges"]:
        return f"increment canonical_edges digest {got_c} != full rebuild {ref['canonical_edges']}"
    return None


WORKLOADS = {"extract": extract, "kg_build": kg_build, "increment": increment}
