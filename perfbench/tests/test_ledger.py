"""The status-store ledger: metric parsing, and ``extract.output_rows``
equal to the committed rows of a traced job."""

import pytest

import check
import inputs
import ledger
import spark_env
import tracing


@pytest.mark.parametrize("text,want", [
    ("6,000", {"total": 6000.0}),
    ("0 ms", {"total": 0.0}),
    ("2.5 m", {"total": 150.0}),
    ("1024.0 KiB", {"total": 1048576.0}),
    ("total (min, med, max (stageId: taskId))\n"
     "19.0 s (4.5 s, 4.9 s, 5.0 s (stage 3.0: task 7))",
     {"total": 19.0, "min": 4.5, "med": 4.9, "max": 5.0, "stage": 3}),
    ("total (min, med, max (stageId: taskId))\n"
     "2.0 MiB (512.0 KiB, 512.0 KiB, 1.0 MiB (stage 12.0: task 33))",
     {"total": 2.0 * 2**20, "min": 2.0**19, "med": 2.0**19,
      "max": 2.0**20, "stage": 12}),
])
def test_parse_metric(text, want):
    assert ledger.parse_metric(text) == want


def test_output_rows_equal_committed_rows(tmp_path):
    from ocr_devnagari_spark.config import ExtractConfig
    from ocr_devnagari_spark.plans import pipeline

    spark_env.configure(str(tmp_path))
    inp = inputs.build("cold_mixed", 3, str(tmp_path / "input"), n_parts=4,
                       procs=1, sizes={"docs": 120})
    tracer = tracing.Tracer("test")
    tracer.install()
    try:
        spark = spark_env.open_session("perfbench-test")
        tracer.sc = spark.sparkContext
        try:
            cfg = ExtractConfig(root_dir=str(tmp_path / "warehouse"))
            pipeline.run_extract_job(spark, inp.corpus_dir, cfg)
            job = next(s for s in tracer.spans
                       if s.name == "pipeline.run_extract_job")
            m = ledger.collect(spark, {tracer.tag(s)
                                       for s in tracer.subtree(job)
                                       if s.attrs["tags_jobs"]})
        finally:
            spark_env.close_session(spark)
    finally:
        tracer.uninstall()
    committed = check.committed_rows(cfg.extracted_table)["url"]
    assert m["extract.output_rows"] == len(committed) == 120
    assert m["extract.tasks"] >= 1
    assert m["ledger.executions"] >= 2          # stage write + lineage
    assert check.mismatched_urls(cfg.extracted_table, inp.oracle, {}) == 0
