"""Every ordered write, and the streaming micro-batch write, runs the
extraction kernel once per input turn, and leaves nothing cached behind.

The range sort in ``with_stable_order`` samples its input; without the
kernel output materialized, that sampling job re-runs the upstream
``mapInPandas`` and the kernel sees every turn twice. The counter is an
accumulator wrapped around the kernel function the pipeline's task
closures call, so it counts every row any job feeds the kernel — the
sampling job included."""

from __future__ import annotations

import pytest

from br_doc_ocr_spark import checkpoint, cli, pipeline, streaming

CALLS = [
    "run_pipeline_output",
    "run_pipeline_output_lineage",
    "run_resumable",
    "run_resumable_lineage",
    "write_json_sinks",
    "cli_multidoc",
    "stream_extract_with_lineage",
]


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _call(name: str, spark, src: str, out: str) -> None:
    if name == "run_pipeline_output":
        pipeline.run_pipeline(spark, src, output_path=f"{out}/o")
    elif name == "run_pipeline_output_lineage":
        pipeline.run_pipeline(spark, src, output_path=f"{out}/o",
                              lineage_path=f"{out}/l")
    elif name == "run_resumable":
        checkpoint.run_resumable(spark, src, f"{out}/o", f"{out}/m.json",
                                 n_buckets=4)
    elif name == "run_resumable_lineage":
        checkpoint.run_resumable(spark, src, f"{out}/o", f"{out}/m.json",
                                 lineage_path=f"{out}/l", n_buckets=4)
    elif name == "write_json_sinks":
        results, _ = pipeline.run_extraction(
            pipeline.read_transcripts(spark, src), salt=4)
        pipeline.write_json_sinks(results, f"{out}/o")
    elif name == "cli_multidoc":
        assert cli.main(["multidoc", "--input", src,
                         "--output", f"{out}/o"]) == 0
    elif name == "stream_extract_with_lineage":
        streaming.stream_extract_with_lineage(
            spark, src, f"{out}/o", f"{out}/l", f"{out}/c",
            available_now=True).awaitTermination()


@pytest.fixture(scope="module", params=CALLS)
def counted_call(request, spark, tiny_transcripts, tiny_transcripts_path,
                 tmp_path_factory):
    """Run one entry point with the kernels counted → (kernel rows, input
    rows, whether the cache manager is empty after the call returned)."""
    rows = spark.sparkContext.accumulator(0)

    def counting(kernel):
        def wrapper(batch, *args):
            rows.add(len(batch))
            return kernel(batch, *args)
        return wrapper

    spark.catalog.clearCache()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(pipeline, "extract_batch",
                   counting(pipeline.extract_batch))
        mp.setattr(pipeline, "extract_documents_batch",
                   counting(pipeline.extract_documents_batch))
        _call(request.param, spark, tiny_transcripts_path,
              str(tmp_path_factory.mktemp(request.param)))
    return rows.value, len(tiny_transcripts), _cache_is_empty(spark)


def test_kernel_runs_once_per_turn(counted_call):
    kernel_rows, n_input, _ = counted_call
    assert kernel_rows == n_input


def test_cache_released_after_return(counted_call):
    _, _, cache_empty = counted_call
    assert cache_empty


def test_cache_released_after_failed_write(spark, tiny_transcripts_path,
                                           tmp_path):
    """A write that raises inside the materialized block still releases the
    DISK_ONLY kernel output — it must not stay cached for the session's
    lifetime (review r05)."""
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    spark.catalog.clearCache()
    with pytest.raises(Exception):
        pipeline.run_pipeline(spark, tiny_transcripts_path,
                              output_path=str(tmp_path / "out"),
                              lineage_path=str(blocker / "lineage"))
    assert _cache_is_empty(spark)
