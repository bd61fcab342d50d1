"""Per-stage metrics + spark-submit deployment evidence."""

import json
import subprocess

import pytest


class TestStageMetrics:
    def test_metered_pipeline_matches_plain(self, spark, tmp_path):
        """materialize_kg, the metered deploy path, writes the plain build's
        edges and one metrics row per stage with rows and seconds."""
        from hades_spark.pipeline.corpus import pages_df
        from hades_spark.pipeline.kg import canonical_triples, distinct_edges
        from hades_spark.pipeline.persist import materialize_kg

        out = str(tmp_path / "kg")
        pages = pages_df(spark, 60, seed=5, with_text=False)
        stages = materialize_kg(spark, pages, out, run_id="r1", n_units=4)
        plain = distinct_edges(canonical_triples(pages))
        a = {tuple(r) for r in spark.read.parquet(f"{out}/edges")
             .select("subj", "pred", "obj", "support").collect()}
        b = {tuple(r) for r in
             plain.select("subj", "pred", "obj", "support").collect()}
        assert a == b
        # one metrics row per stage, rows and seconds populated
        assert set(stages) == {"extract", "project", "edges"}
        for v in stages.values():
            assert v["rows"] > 0 and v["sec"] > 0
        tbl = spark.read.parquet(f"{out}/metrics")
        assert tbl.count() == 3
        assert {r["stage"]: (r["rows_out"], r["duration_sec"])
                for r in tbl.collect()} == \
            {st: (v["rows"], v["sec"]) for st, v in stages.items()}

    def test_metrics_append_across_runs(self, spark, tmp_path):
        """A second run into the same KG root under a new run_id
        rebuilds it and appends its own metrics rows under that run_id."""
        from hades_spark.pipeline.corpus import pages_df
        from hades_spark.pipeline.persist import materialize_kg

        out = str(tmp_path / "kg")
        pages = pages_df(spark, 20, seed=5, with_text=False)
        for run in ["r1", "r2"]:
            materialize_kg(spark, pages, out, run_id=run, n_units=2)
        tbl = spark.read.parquet(f"{out}/metrics")
        assert tbl.count() == 6
        assert {r["run_id"] for r in tbl.collect()} == {"r1", "r2"}


class TestSparkSubmit:
    @pytest.mark.slow
    def test_submit_with_py_files_zip(self, tmp_path):
        """North-rule deployment shape: spark-submit --py-files over the
        packaged library, no repo on sys.path inside the job."""
        import os
        import shutil

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        zip_path = subprocess.run(
            ["bash", f"{repo}/scripts/package.sh", str(tmp_path / "dist")],
            capture_output=True, text=True, cwd=repo, check=True,
        ).stdout.strip()
        spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
        out_dir = str(tmp_path / "kg")
        env = dict(os.environ)
        env.pop("PYTHONPATH", None)  # the zip must be self-sufficient
        r = subprocess.run(
            [spark_submit, "--master", "local[2]",
             "--conf", "spark.ui.enabled=false",
             "--py-files", zip_path if os.path.isabs(zip_path)
             else f"{repo}/{zip_path}",
             f"{repo}/scripts/submit_kg.py",
             "--pages", "60", "--output", out_dir, "--run-id", "t1"],
            capture_output=True, text=True, timeout=420, env=env,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        line = [ln for ln in r.stdout.splitlines()
                if ln.startswith("{")][-1]
        payload = json.loads(line)
        assert payload["edges"] > 0
        assert set(payload["stages"]) == {"extract", "project", "edges"}
        import glob
        assert glob.glob(f"{out_dir}/edges/pred=*/*.parquet")
        assert glob.glob(f"{out_dir}/metrics/*.parquet")
        assert glob.glob(f"{out_dir}/manifest/*.parquet")
