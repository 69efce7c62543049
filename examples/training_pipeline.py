"""End-to-end training-data pipeline composing the whole engine.

documents → PII scrub → quality/Gopher-rule filter → language filter →
exact + near dedup → benchmark decontamination → WordPiece subword
tokenization (token ids) → context-window chunking → token-sequence
feature table → materialize (manifest/resume) → PIT retrieval with
windowed features → training set (+ validation profile gate).

Run: PYTHONPATH=. python examples/training_pipeline.py [sf_dir] [out_dir]

At cluster scale, submit with::

    zip -r feast_spark.zip feast_spark
    spark-submit --py-files feast_spark.zip examples/training_pipeline.py \
        s3://bucket/docs s3://bucket/out
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from feast_spark.core.feature_view import Entity, FeatureView
from feast_spark.core.source import ParquetSource
from feast_spark.core.store import FeatureStore, RetrievalJob
from feast_spark.materialize.feature_logging import FeatureLogger
from feast_spark.materialize.jobs import MaterializationManifest, materialize_view
from feast_spark.operators.asof_join import point_in_time_join
from feast_spark.operators.windows import lag_lead_features, rolling_agg, sessionize
from feast_spark.pipeline.dedup_text import exact_dedup_docs, lsh_candidate_pairs
from feast_spark.pipeline.graph import dedup_groups_from_pairs
from feast_spark.pipeline.sampling import (
    deterministic_sample,
    leakage_safe_split,
    pack_sequences,
)
from feast_spark.pipeline.text import (
    decontaminate,
    detect_language,
    gopher_quality_rules,
    pii_scrub,
    quality_features,
)
from feast_spark.validation import DatasetProfiler


def tokenize_ids(df, text_col="text"):
    """Real subword tokenization: greedy longest-match WordPiece
    (broadcast vocab, one Arrow-batched UDF pass) mapped to integer
    token ids via ``pieces_to_ids`` (codegen map-literal lookup, UNK
    id 0, no extra Python pass) — raw text to the engine's
    pre-tokenized input shape in one composed step."""
    from feast_spark.pipeline.tokenize import pieces_to_ids, wordpiece_tokenize

    return (
        wordpiece_tokenize(df, text_col=text_col)
        .withColumn("tokens", pieces_to_ids(F.col("tokens")))
        .withColumn("n_tok", F.size("tokens"))
    )


def build_training_set(spark, sf_dir: str, out_dir: str) -> dict:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stats = {"input_docs": docs.count()}

    # 0. PII scrub FIRST — redacted text feeds every downstream stage
    #    (chained codegen regexp_replace; counts kept for auditing)
    docs = (
        pii_scrub(docs)
        .drop("text")
        .withColumnRenamed("text_scrubbed", "text")
    )

    # 1. quality + Gopher-rule + language filter (JVM-side expressions)
    scored = detect_language(quality_features(gopher_quality_rules(docs, min_words=3)))
    kept = scored.filter(
        (F.col("quality_score") >= 0.3) & (F.col("n_words") >= 3) & F.col("gopher_pass")
    )
    stats["after_quality"] = kept.count()

    # 2. exact dedup, then MinHash-LSH near-dup removal (drop the larger
    #    id of each verified near-dup pair)
    kept = exact_dedup_docs(kept)
    stats["after_exact_dedup"] = kept.count()
    near = lsh_candidate_pairs(kept, num_hashes=16, bands=8, shingle_n=2, threshold=0.6)
    groups = dedup_groups_from_pairs(kept, near).persist()  # transitive closure
    kept = kept.join(groups.filter("keep").select("doc_id"), on="doc_id", how="left_semi")
    stats["after_near_dedup"] = kept.count()

    # 2a2. benchmark decontamination: drop training docs sharing any
    # word 3-gram with the (here: pseudo) benchmark set — broadcast
    # benchmark shingles, corpus never shuffles on shingle
    # hash-threshold selection (NO unordered limit — limit without an
    # ordering is nondeterministic across re-evaluations of the plan,
    # and this lineage executes more than once)
    bench = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(211)) == 0)
    contaminated = (
        decontaminate(kept, bench).filter("contaminated").select(F.col("id").alias("doc_id"))
    )
    kept = kept.join(contaminated, on="doc_id", how="left_anti")
    stats["after_decontamination"] = kept.count()

    # 2b. deterministic (rerun-stable) subsample for the mixture budget;
    # persist — several counts and the staging write below reuse `kept`,
    # and the curation DAG above is expensive to replay
    kept = deterministic_sample(kept, 0.9).persist()
    stats["after_sampling"] = kept.count()

    # 2c. leakage-safe train/test split BY DEDUP GROUP (reusing the
    # components from step 2 — no second connected-components run). The
    # split gates the packed training blocks below: test-group documents
    # must never reach a training block.
    split = leakage_safe_split(kept, near, test_frac=0.1, groups=groups)
    stats["split"] = {
        r["split"]: r["count"] for r in split.groupBy("split").count().collect()
    }
    train_ids = split.filter("split = 'train'").select("doc_id")

    # 3. tokenize → token-sequence feature table (synthetic event times:
    #    deterministic offsets; real pipelines carry ingestion times)
    seqs = tokenize_ids(kept).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "tokens",
        "n_tok",
        "source",
        (
            F.to_timestamp(F.lit("2024-01-01"))
            + F.make_interval(hours=F.pmod(F.xxhash64("doc_id"), F.lit(24 * 28)))
        ).alias("event_timestamp"),
        (
            F.to_timestamp(F.lit("2024-01-01"))
            + F.make_interval(hours=F.pmod(F.xxhash64("doc_id"), F.lit(24 * 28)) + 1)
        ).alias("created"),
    )

    # 3a. ids-space hygiene on the tokenized sequences — from here on
    # the raw text is gone, so these are the passes an ids-only
    # pipeline can still run: scrub duplicated ≥32-token id runs
    # (ExactSubstr over the token stream — Lee et al.'s own
    # formulation), then benchmark-overlapping 16-token id windows
    # (catches contamination that only aligns after tokenization; the
    # text-space pass at 2a2 dropped whole docs, this trims spans).
    from feast_spark.pipeline.dedup_text import (
        remove_duplicate_token_runs,
        scrub_contaminated_token_spans,
    )

    bench_ids = tokenize_ids(bench).select("tokens")
    seqs = (
        remove_duplicate_token_runs(seqs, min_len=32, out_col="tokens_deduped")
        .drop("tokens", "n_tok_in", "n_dup_spans", "n_removed_tokens")
        .withColumnRenamed("tokens_deduped", "tokens")
    )
    seqs = (
        scrub_contaminated_token_spans(
            seqs, bench_ids, ngram=16, out_col="tokens_clean"
        )
        .drop("tokens", "n_tok_in", "n_hit_spans", "n_removed_tokens")
        .withColumnRenamed("tokens_clean", "tokens")
        .withColumn("n_tok", F.size("tokens"))
        .filter(F.col("n_tok") > 0)
    )

    # 4. materialize with lineage manifest (idempotent resume).
    # The curation DAG above (dedup pairs -> connected components ->
    # semi-joins) is deep; cut the lineage with a staging write so the
    # per-day materialization reads a flat parquet table instead of
    # re-executing the curation per partition (this is also what a real
    # pipeline does: curated sequences are a durable intermediate).
    staging = os.path.join(out_dir, "curated_sequences")
    seqs.write.mode("overwrite").parquet(staging)
    seqs = spark.read.parquet(staging)
    mat_path = os.path.join(out_dir, "sequences")
    materialize_view(spark, seqs, mat_path, ["doc_id"], created_col="created")
    stats["manifest"] = MaterializationManifest(mat_path).metrics()

    # 5. PIT retrieval + windowed features over the materialized table
    stored = spark.read.option("basePath", mat_path).parquet(f"{mat_path}/day=*")
    spine = stored.select(
        "doc_id",
        (F.col("event_timestamp") + F.make_interval(hours=F.lit(2))).alias("event_timestamp"),
    )
    joined = point_in_time_join(
        spine,
        stored.drop("day"),
        ["doc_id"],
        ["tokens", "n_tok", "source"],
        created_col="created",
        ttl_seconds=7 * 86400,
        feature_prefix="feat_",
    )
    feats = lag_lead_features(joined, ["doc_id"], "event_timestamp", ["feat_n_tok"], offsets=[1])
    feats = rolling_agg(feats, ["doc_id"], "event_timestamp", [("sum", "feat_n_tok")], 86400)
    feats = sessionize(feats, ["doc_id"], "event_timestamp", 6 * 3600)

    train_path = os.path.join(out_dir, "training_set")
    feats.write.mode("overwrite").parquet(train_path)
    stats["training_rows"] = spark.read.parquet(train_path).count()

    # 6. context-window chunking, then pack into fixed-budget training
    # blocks — TRAIN-side documents only (the step-2c split gates
    # packing, so test-group content never lands in a training block).
    # Chunking caps any sequence at 512 tokens (stride 448, 64-token
    # overlap, full tail coverage) so one megadoc cannot monopolize a
    # block; both steps are flatMap/groupBy only.
    from feast_spark.pipeline.sampling import chunk_sequences

    train_seqs = (
        spark.read.parquet(train_path)
        .join(train_ids, on="doc_id", how="left_semi")
        .filter(F.col("feat_n_tok").isNotNull())
        .select(
            "doc_id", "event_timestamp",
            F.col("feat_tokens").alias("tokens"),
            F.col("feat_n_tok").alias("n_tok"),
            F.col("feat_source").alias("source"),
        )
    )
    # chunk on a ROW-unique id (doc_id alone is NOT unique here — the
    # PIT spine yields one row per (doc, event time), so joining chunks
    # back on doc_id would fan out m×m and duplicate training content)
    train_seqs = train_seqs.withColumn(
        "seq_id",
        F.concat_ws("|", "doc_id", F.unix_micros("event_timestamp").cast("string")),
    )
    chunked = chunk_sequences(
        train_seqs, max_len=512, overlap=64, id_col="seq_id", n_tok_col="n_tok"
    )
    stats["chunks"] = chunked.count()
    packed = pack_sequences(
        chunked.join(
            train_seqs.select("seq_id", "event_timestamp", "source"),
            chunked["id"] == F.col("seq_id"),
        ).select(
            F.concat_ws("#", "seq_id", F.col("chunk_idx").cast("string")).alias("doc_id"),
            "event_timestamp",
            F.col("chunk_tokens").alias("tokens"),
            F.col("chunk_len").alias("n_tok"),
            "source",
        ),
        block_tokens=2048,
    )
    blocks_path = os.path.join(out_dir, "training_blocks")
    packed.write.mode("overwrite").parquet(blocks_path)
    bdf = spark.read.parquet(blocks_path)
    stats["training_blocks"] = bdf.count()
    stats["packed_tokens"] = bdf.agg(F.sum("n_tokens")).first()[0]

    # 7. durable registry + saved dataset: a later session can restore
    #    the view, continue materialization incrementally, and fetch the
    #    training set by name with its metadata
    store = FeatureStore(spark, registry_path=os.path.join(out_dir, "registry.json"))
    store.apply(
        [
            FeatureView(
                name="sequences",
                source=ParquetSource(staging, created_timestamp_column="created"),
                entities=[Entity("doc_id")],
            )
        ]
    )
    ds = store.create_saved_dataset(
        RetrievalJob(spark.read.parquet(train_path)),
        "training_set_v1",
        os.path.join(out_dir, "saved_training_set"),
        ["sequences:tokens", "sequences:n_tok"],
    )
    stats["saved_dataset_rows"] = ds.metadata.row_count

    # 7b. derive a validation profile from the saved dataset and gate a
    # (re)retrieval through it — the great-expectations-style drift
    # check a production pipeline runs on every refresh
    profile = DatasetProfiler(
        columns=["feat_n_tok", "feat_source"]
    ).analyze(ds.to_spark_df(spark))
    gated = RetrievalJob(spark.read.parquet(train_path)).to_spark_df(
        validation_reference=profile
    )
    stats["validated_rows"] = gated.count()

    # 7c. negative control: a drifted refresh (token counts doubled —
    # upstream tokenizer change) must be REJECTED by the same profile;
    # the quantile expectations catch distribution-shape drift even when
    # coarser moments stay in band
    from feast_spark.validation import ValidationError

    drifted = spark.read.parquet(train_path).withColumn(
        "feat_n_tok", (F.col("feat_n_tok") * 2).cast("int")
    )
    try:
        RetrievalJob(drifted).to_spark_df(validation_reference=profile)
        raise AssertionError("drifted refresh passed the validation gate")
    except ValidationError as err:
        stats["drift_gate"] = "rejected"
        stats["drift_failed_checks"] = sorted(
            {c for c in ("quantile_between", "mean_between", "max_at_most") if c in str(err)}
        )

    # 8. serving log with a frozen schema contract (training/serving
    #    skew analysis replays exactly what was served)
    logger = FeatureLogger(os.path.join(out_dir, "serving_log"))
    logger.log(
        spark.read.parquet(train_path).select("doc_id", "event_timestamp", "feat_n_tok").limit(100)
    )
    stats["logged_rows"] = logger.read(spark).count()
    return stats


if __name__ == "__main__":
    from feast_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/feast_spark_training"
    spark = get_spark("training_pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(build_training_set(spark, sf_dir, out_dir)))
