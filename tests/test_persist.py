"""Materialized-pipeline tests: tables land, resume is exact."""

import datetime as dt
import shutil

from pyspark.sql import functions as F

from hades_spark.pipeline.corpus import pages_df
from hades_spark.pipeline.kg import canonical_triples, distinct_edges
from hades_spark.pipeline.persist import materialize_kg
from hades_spark.schemas import PAGES
from hades_spark.sources.manifest import Manifest


class TestMaterialize:
    def test_tables_and_partitions(self, spark, tmp_path):
        out = str(tmp_path / "kg")
        pages = pages_df(spark, 60, seed=5, with_text=False)
        m = materialize_kg(spark, pages, out, n_units=4)
        assert m["extract"]["rows"] == 60
        edges = spark.read.parquet(f"{out}/edges")
        assert edges.count() > 0
        # pred is a physical partition column -> partition pruning works
        assert "pred=uses" in {
            p.name for p in (tmp_path / "kg" / "edges").iterdir()
            if p.is_dir()
        }
        mentions = spark.read.parquet(f"{out}/mentions")
        assert {r["kind"] for r in mentions.select("kind").distinct().collect()} \
            >= {"link", "code"}

    def test_deploy_edges_equal_build_edges(self, spark, tmp_path):
        """The deploy path writes exactly the build's edges, including for
        surfaces that normalize to empty (non-ASCII-only, punctuation-only)."""
        odd = spark.createDataFrame(
            [("https://odd.example/0.html",
              dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc),
              "<html><body><p>日本 uses Spark. -- stores Data.</p>"
              "</body></html>".encode(), None, "en")], PAGES)
        pages = pages_df(spark, 60, seed=5, with_text=False).unionByName(odd)
        out = str(tmp_path / "kg")
        materialize_kg(spark, pages, out, n_units=4)
        cols = ["subj", "pred", "obj", "edge_key", "support", "confidence",
                "url"]
        got = spark.read.parquet(f"{out}/edges").select(*cols)
        want = distinct_edges(canonical_triples(pages)).select(*cols)
        assert got.filter(F.col("url") == "https://odd.example/0.html") \
            .count() == 2
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0

    def test_crash_resume_byte_identical(self, spark, tmp_path):
        pages = pages_df(spark, 50, seed=9, with_text=False)

        full_dir = str(tmp_path / "full")
        materialize_kg(spark, pages, full_dir, n_units=4)
        want = {tuple(r) for r in spark.read.parquet(f"{full_dir}/edges")
                .select("subj", "pred", "obj", "support").collect()}

        # simulate a crash: run stage 1 for 2 of 4 units only, then resume
        crash_dir = str(tmp_path / "crash")
        man = Manifest(spark, f"{crash_dir}/manifest", "run0")
        from hades_spark.pipeline.persist import _stage1
        from hades_spark.sources.manifest import with_unit

        keyed = with_unit(pages, "url", 4)
        for u in (0, 2):
            part = keyed.filter(F.col("unit") == u).drop("unit")
            _stage1(part).write.mode("overwrite") \
                .parquet(f"{crash_dir}/stage1/unit={u}")
            man.record("extract", u, "completed", rows_out=part.count())

        materialize_kg(spark, pages, crash_dir, n_units=4)
        got = {tuple(r) for r in spark.read.parquet(f"{crash_dir}/edges")
               .select("subj", "pred", "obj", "support").collect()}
        assert got == want
        shutil.rmtree(crash_dir, ignore_errors=True)
