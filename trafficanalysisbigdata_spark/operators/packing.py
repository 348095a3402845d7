"""Sequence packing — the pretraining step that turns a document corpus into
fixed-length training sequences (concat-then-chunk, GPT-style): documents are
hash-sharded (``PACK_SHARDS``), concatenated in deterministic order within
each shard, and the token stream is cut every ``PACK_SEQ_LEN`` tokens.
Documents may straddle a cut — that is the standard trade (no padding except
each shard's final chunk).

Scale shape: the only non-trivial machinery is one window cumsum PER SHARD
(``sum(n_tokens) over (partition by shard order by doc_id)``). The shard
count is the parallelism dial — shards are independent, so at 100 TB you run
~10⁴ shards of a few GB each and every shard's running offset is one sorted
task; no global order, no driver state. Assignment is pure hash arithmetic
(md5-fraction, the pipe4 idiom), reproducible on any engine — the DuckDB
oracle runs the identical program.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash_frac
from ..functions.text import token_count


PACK_SEQ_LEN = 2048
PACK_SHARDS = 16


def pack_sequences(docs: DataFrame) -> DataFrame:
    """Assign every document its packed position: (doc_id, shard, n_tokens,
    start_off, seq_id, end_seq, straddles).

    ``seq_id`` is the training sequence the document STARTS in
    (``floor(start_off / PACK_SEQ_LEN)``), ``end_seq`` the one it ends in;
    ``straddles`` marks documents cut by a sequence boundary.
    """
    shard = F.floor(hash_frac(F.col("doc_id")) * PACK_SHARDS).cast("int")
    w = Window.partitionBy("shard").orderBy("doc_id")
    out = docs.select(
        F.col("doc_id"), shard.alias("shard"), token_count(F.col("text")).alias("n_tokens")
    ).withColumn("start_off", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return out.select(
        "doc_id",
        "shard",
        "n_tokens",
        "start_off",
        F.floor(F.col("start_off") / PACK_SEQ_LEN).cast("bigint").alias("seq_id"),
        F.floor((F.col("start_off") + F.col("n_tokens") - 1) / PACK_SEQ_LEN)
        .cast("bigint")
        .alias("end_seq"),
    ).withColumn("straddles", (F.col("end_seq") > F.col("seq_id")).cast("int"))
