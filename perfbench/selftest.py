"""Self-tests of the benchmark's generators and output checks.

    python3 perfbench/selftest.py

Exits 0 when every test passes. Each output check must pass on correct
output and fail on a planted fault.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import traceback

import run as bench

RESULTS: list[tuple[str, bool, str]] = []


def test(fn):
    try:
        fn()
        RESULTS.append((fn.__name__, True, ""))
    except Exception:
        RESULTS.append((fn.__name__, False, traceback.format_exc(limit=4)))
    return fn


def _read_back(path):
    import pyarrow.parquet as pq

    t = pq.read_table(path).to_pylist()
    return [{**r, "gold": []} for r in t]


def main() -> int:
    work = os.path.join(bench.ROOT, ".perfbench", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    bench.prepare_environment(os.path.join(bench.ROOT, ".perfbench"))
    import checks
    import inputs
    import workloads

    @test
    def metric_names_match_benchmark_json():
        with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.E2E_UNITS
        assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.LAYER_UNITS

    @test
    def same_seed_same_input_at_two_partition_counts():
        for name, rows in (("extract", inputs.extract_rows(7)),
                           ("kg_build", inputs.kg_rows(7)[0])):
            digests = set()
            for files in (3, 8):
                path = os.path.join(work, f"{name}-{files}")
                inputs.write_docs(rows, path, files=files)
                digests.add(inputs.rows_digest(_read_back(path)))
            assert len(digests) == 1, f"{name}: file count changed the input"
            assert inputs.rows_digest(rows) == inputs.rows_digest(
                inputs.extract_rows(7) if name == "extract" else inputs.kg_rows(7)[0])
        assert inputs.rows_digest(inputs.kg_rows(8)[0]) != inputs.rows_digest(
            inputs.kg_rows(7)[0]), "another seed must give other inputs"

    @test
    def kg_corpus_plants_aliases_of_frequent_names():
        rows, aliases = inputs.kg_rows(7)
        assert aliases and all(a.startswith(b) and len(a) == len(b) + 1
                               for a, b in aliases.items())
        text = "".join(r["html"].decode() for r in rows)
        assert all(b in text for b in aliases.values())

    from relation_extraction_spark.api import KGEngine
    from relation_extraction_spark.session import get_spark

    spark = get_spark(app_name="perfbench-selftest", master="local[2]",
                      shuffle_partitions=2,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        from relation_extraction_spark.schema import DOCUMENTS_SCHEMA

        def docs_df(rows, name):
            path = os.path.join(work, name)
            inputs.write_docs(rows, path, files=2)
            return spark.read.schema(DOCUMENTS_SCHEMA).parquet(path)

        rows = inputs.extract_rows(7)[:300]
        gold = checks.keys_of_gold(inputs.gold_records(rows))
        triples = KGEngine(spark).extract(docs_df(rows, "small")).localCheckpoint(eager=True)

        @test
        def dropped_triple_fails_gold_and_digest_checks():
            got = triples.collect()
            assert checks.prf(checks.keys_of_rows(got), gold) == {
                "precision": 1.0, "recall": 1.0, "pred": len(gold), "gold": len(gold)}
            p = checks.prf(checks.keys_of_rows(got[1:]), gold)
            assert p["recall"] < 1.0, "a dropped triple must lower recall"
            h = checks.row_hash(triples, checks.TRIPLE_COLS)
            first = triples.select(h.alias("k")).first()["k"]
            dropped = triples.where(h != first)
            assert checks.digest(dropped, checks.TRIPLE_COLS) != checks.digest(
                triples, checks.TRIPLE_COLS)

        @test
        def reextracted_revisit_fails_increment_check():
            base, batch = inputs.increment_rows(7)
            base_urls = {r["url"] for r in base}
            revisit = next(r for r in batch if r["url"] in base_urls and r["gold"])
            edges = triples.select("subject", "predicate",
                                   triples["object"]["@value"].alias("object"))
            ref = {"triples": list(checks.digest(triples, checks.TRIPLE_COLS)),
                   "canonical_edges": list(checks.digest(
                       edges, ("subject", "predicate", "object")))}
            assert workloads.increment_problem(
                {"triples": triples, "canonical_edges": edges}, ref) is None
            again = KGEngine(spark).extract(docs_df([revisit], "revisit"))
            assert again.count() > 0
            faulty = {"triples": triples.unionByName(again), "canonical_edges": edges}
            assert workloads.increment_problem(faulty, ref) is not None

        @test
        def unresolved_alias_fails_alias_check():
            aliases = {"李明123456789": "李明12345678"}
            edges = [("李明123456789", "出生地", "北京"), ("李明12345678", "国籍", "中国")]
            canonical = [("李明12345678", "出生地", "北京"), ("李明12345678", "国籍", "中国")]
            assert not checks.alias_problems(aliases, edges, canonical)
            assert checks.alias_problems(aliases, edges, edges), \
                "an alias left in canonical_edges must fail"
            assert checks.alias_problems(aliases, edges, canonical[1:]), \
                "an alias edge not rewritten to its base must fail"
            elsewhere = [("李明99999999", "出生地", "北京"), ("李明12345678", "国籍", "中国")]
            assert checks.alias_problems(aliases, edges + elsewhere[:1], elsewhere), \
                "an alias merged into another name must fail"
            assert checks.alias_problems({}, edges, canonical), \
                "no planted alias reached must fail"
    finally:
        spark.stop()
        bench.stop_jvm(set())
        shutil.rmtree(work, ignore_errors=True)

    for name, ok, err in RESULTS:
        print(f"{'PASS' if ok else 'FAIL'} {name}")
        if err:
            print(err)
    return 0 if all(ok for _, ok, _ in RESULTS) else 1


if __name__ == "__main__":
    sys.exit(main())
