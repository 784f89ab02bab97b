"""r18: the CPU-bound kernel fan-outs (dedup shingles, embedding
quantization, the cosine-kernel corpus) are bytes-gated like
scan_fan_out — a no-op once the input is big enough to feed the scan
its own splits, the small-input repartition otherwise."""

from pyspark.sql import functions as F

from tigate_spark.functions import dedup as dd
from tigate_spark.functions import similarity as sim
from tigate_spark.sources import batch
from tigate_spark.sources.batch import load_table


def _has_fan_out(df) -> bool:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return "REPARTITION_BY_NUM" in buf.getvalue()


def test_small_input_keeps_fan_out(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    assert _has_fan_out(dd.with_shingles(docs))
    assert _has_fan_out(sim.with_quantized(emb))


def test_big_input_skips_fan_out(spark, sf_dir, monkeypatch):
    # shrink the gate so the sf0.01 files count as "big": the exchange
    # must disappear while results stay the operator's own business
    monkeypatch.setattr(batch, "_MAX_SPLIT_BYTES", 1)
    monkeypatch.setattr(batch, "FAN_OUT_MAX_BYTES", 1)
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    assert not _has_fan_out(dd.with_shingles(docs))
    assert not _has_fan_out(sim.with_quantized(emb))


def test_unsizeable_input_keeps_fan_out(spark, monkeypatch):
    # in-memory frame: inputFiles() is empty -> streaming/micro-batch
    # posture, the fan-out stays
    monkeypatch.setattr(batch, "_MAX_SPLIT_BYTES", 1)
    monkeypatch.setattr(batch, "FAN_OUT_MAX_BYTES", 1)
    df = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.lit("one two three four five six").alias("text"),
    )
    assert _has_fan_out(dd.with_shingles(df))


def test_gated_results_identical(spark, sf_dir, monkeypatch):
    docs = load_table(spark, sf_dir, "documents")
    before = dd.minhash_lsh_pairs(docs).collect()
    monkeypatch.setattr(batch, "_MAX_SPLIT_BYTES", 1)
    monkeypatch.setattr(batch, "FAN_OUT_MAX_BYTES", 1)
    after = dd.minhash_lsh_pairs(docs).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))


def test_one_unstattable_file_does_not_zero_the_total(
        spark, sf_dir, tmp_path, monkeypatch):
    # a file deleted between listing and stat counts 0 bytes; the files
    # that do stat still count, so a big input still skips the fan-out
    monkeypatch.setattr(batch, "_MAX_SPLIT_BYTES", 1)
    monkeypatch.setattr(batch, "FAN_OUT_MAX_BYTES", 1)
    real = batch.local_paths_from_input_files
    gone = str(tmp_path / "deleted.parquet")
    monkeypatch.setattr(batch, "local_paths_from_input_files",
                        lambda files: [gone, *real(files)])
    docs = load_table(spark, sf_dir, "documents")
    assert not _has_fan_out(dd.with_shingles(docs))
