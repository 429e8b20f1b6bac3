"""Durable tokenizer artifacts: persist a trained BPE / WordPiece /
unigram model as a small Parquet layout and reload it into exactly the
structures the encode functions consume.

The `write_ann_index` analog for the tokenizer family: train once at
corpus-ingest time, then every downstream job (encoding shards,
fertility audits, OOV scans) loads the frozen artifact instead of
retraining — which is also what makes tokenization REPRODUCIBLE across
pipeline runs, the property all three trainers' exact-replay designs
exist to serve.

Layout:
    {path}/meta    one row: (kind, params json)
    {path}/vocab   BPE/WordPiece: (ord, lhs, rhs) in learned merge
                   order; unigram: (piece, score)

Both tables are tokenizer-sized (KBs) and written as one file each
(``write_small_table``); readers collect them to the driver — the same
k-sized hop the trainers already make each iteration.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession

from carbonapi_spark.datapipe import write_small_table

KINDS = ("bpe", "wordpiece", "unigram")


def write_bpe(spark: SparkSession, path: str,
              merges: list[tuple[str, str]], kind: str = "bpe",
              params: dict | None = None) -> None:
    """Persist an ordered merge list (BPE or WordPiece — both encode
    from the same structure; WordPiece inference additionally derives
    its vocab from the merged tokens)."""
    if kind not in ("bpe", "wordpiece"):
        raise ValueError(f"merge-list kinds are bpe|wordpiece, got {kind!r}")
    _write_meta(spark, path, kind, params)
    write_small_table(spark, f"{path}/vocab",
                      [(i + 1, l, r) for i, (l, r) in enumerate(merges)],
                      "ord INT, lhs STRING, rhs STRING")


def write_unigram(spark: SparkSession, path: str,
                  vocab: dict[str, float],
                  params: dict | None = None) -> None:
    """Persist a unigram piece->score table (integer usage scores from
    the count trainer or float log-probs from the EM trainer — the
    dtype rides in the score column either way)."""
    _write_meta(spark, path, "unigram", params)
    write_small_table(spark, f"{path}/vocab",
                      sorted((p, float(s)) for p, s in vocab.items()),
                      "piece STRING, score DOUBLE")


def _write_meta(spark: SparkSession, path: str, kind: str,
                params: dict | None) -> None:
    write_small_table(spark, f"{path}/meta",
                      [(kind, json.dumps(params or {}, sort_keys=True))],
                      "kind STRING, params STRING")


def read_tokenizer(spark: SparkSession, path: str):
    """(kind, payload, params): payload is the merge list (bpe /
    wordpiece) or the piece->score dict (unigram) — directly consumable
    by bpe_encode / wordpiece_encode / unigram_encode."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    kind, params = meta["kind"], json.loads(meta["params"])
    if kind not in KINDS:
        raise ValueError(f"unknown tokenizer kind {kind!r} at {path}")
    vocab = spark.read.parquet(f"{path}/vocab")
    if kind == "unigram":
        payload = {r["piece"]: r["score"] for r in vocab.collect()}
    else:
        payload = [(r["lhs"], r["rhs"])
                   for r in sorted(vocab.collect(),
                                   key=lambda r: r["ord"])]
    return kind, payload, params
