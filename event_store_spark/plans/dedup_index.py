"""DedupIndex: the persisted-signature lifecycle for near-dup families.

`VectorIndex` (plans/vector_index.py) gives the three ANN layouts one
open/search/maintain/compact facade; this is the same completion for the
DEDUPLICATION families. The registered incremental probes
(`dedup_incremental`, `dedup_simhash_incremental`) derive both index and
batch from the documents table each run — correct as oracle-checked
queries, but a production ingest pipeline builds the signature table
ONCE, persists it, and probes every arriving batch against the files
(their docstrings say "in production this IS the persisted layout"; this
module makes that layout real):

- ``DedupIndex.build(spark, docs, path, kind)`` — signature table
  computed with the family's one shared formula
  (`llm.minhash_band_signatures` / `llm._simhash_sig` /
  `pipeline11.winnow_fingerprints`) and written parquet PARTITIONED BY
  the blocking key (``band`` / ``block_idx`` / ``part``), so a probe's
  equi-join prunes to the blocks it needs; params (``meta.json``)
  written last as the index-complete marker. The winnow build enforces
  the MAX_FP_DOCS stoplist (build+compact time), which doubles as the
  probe's per-key fan-out bound.
- ``DedupIndex.open(spark, path)`` — lazy signatures over the live
  generation; never retrains, never rescans the corpus.
- ``probe(batch_docs)`` — the asymmetric join both incremental queries
  pin: batch signatures are computed fresh and BROADCAST onto the
  index (index-sized data never shuffles). MinHash probes return
  band-collision candidates (verification against corpus text is the
  caller's residual exactly as in `dedup_incremental` — signatures
  alone cannot compute Jaccard); SimHash probes are self-sufficient
  and return each new doc's best match within Hamming ≤ 3.
- ``append(batch_docs, batch_id)`` — a new batch's signatures become
  the batch's segment of a `SegmentLog` under ``segments/`` (the
  admitted batch becomes part of the corpus the NEXT batch probes
  against).
- ``compact()`` — merge base + segments into a fresh generation behind
  `GenerationPair`'s atomic pointer flip (deferred GC for in-flight
  readers; a doc_id's rows come from the newest batch that holds it,
  `SegmentLog.newest` — the rule every segment-log compaction follows).

Scale shape: the index is the big side and stays partitioned parquet on
shared storage; every probe touches O(|batch| × bucket occupancy) rows
after partition pruning; append is O(|batch|) signature rows; compact
is one shuffle-free union rewrite (both sides already carry the
partition column). Nothing here ever self-joins the corpus.

Reference parity: the reference (kagetech/event-store) has no dedup
surface at all — this extends the LLM-pipeline family (brief:
"operations a large-scale training-data pipeline would need").
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from event_store_spark.plans.generations import GenerationPair, SegmentLog

KINDS = ("minhash", "simhash64", "winnow", "substring")

#: substring kind: 8-gram postings bucketed into this many parquet
#: partitions (gram hashes are uniform, so buckets balance)
SUBSTR_PARTS = 32

#: winnow kind: fingerprints hashed to scalars (xxhash64 over the gram's
#: token slots — join keys only, never output) and bucketed into this
#: many parquet partitions so a probe's equi-join stays co-located
WINNOW_PARTS = 32
#: build/compact-time stoplist (the registered query's MAX_FP_DOCS rule):
#: a fingerprint indexed by more documents than this is dropped as
#: non-discriminative, which is also the per-key probe fan-out bound
WINNOW_MAX_FP_DOCS = 50


def _simhash64_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, source, sig) under dedup_simhash64's exact bit rule."""
    from event_store_spark.functions.text import whitespace_tokens
    from event_store_spark.plans.llm import (
        _simhash64_bit_on,
        _simhash64_chunks,
        _simhash_sig,
    )

    token_hashes = docs.select(
        "doc_id", "source", F.explode(whitespace_tokens("text")).alias("t")
    ).select("doc_id", "source", F.md5("t").alias("h"))
    return _simhash_sig(
        _simhash64_chunks(token_hashes), 64, _simhash64_bit_on, ("source",)
    )


def _simhash_blocked(sig: DataFrame) -> DataFrame:
    """Signature rows → 4×16-bit pigeonhole block rows with the packed
    halves (the layout dedup_simhash_incremental's index side builds
    in-plan; here it is what goes to parquet)."""
    return (
        sig.withColumn(
            "hi", F.conv(F.expr("substr(sig, 1, 32)"), 2, 10).cast("long")
        )
        .withColumn("lo", F.conv(F.expr("substr(sig, 33, 32)"), 2, 10).cast("long"))
        .withColumn("block_idx", F.explode(F.sequence(F.lit(0), F.lit(3))))
        .withColumn("block", F.expr("substr(sig, block_idx * 16 + 1, 16)"))
        .select("doc_id", "source", "hi", "lo", "block_idx", "block")
    )


def _winnow_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, fp, part): winnowing fingerprints under text_winnowing's
    exact selection rule, hashed to xxhash64 scalars (2^-64 collisions,
    the gram-hash convention) and bucketed for the parquet layout."""
    from event_store_spark.plans.pipeline11 import WIN_K, winnow_fingerprints

    fp = winnow_fingerprints(docs)
    h = F.xxhash64(*[F.col(f"f.t{j}") for j in range(WIN_K)])
    return fp.select(
        "doc_id",
        h.alias("fp"),
        F.pmod(h, F.lit(WINNOW_PARTS)).cast("int").alias("part"),
    )


def _substring_postings(docs: DataFrame) -> DataFrame:
    """(doc_id, p, g, part): every 8-gram anchor of every document under
    dedup_substring_spans' exact hashing rule (xxhash64 over the token
    hashes) — the persisted postings a streaming exact-substring gate
    probes. Position `p` travels with the gram so probes can compose
    anchors into maximal spans as DIAGONAL RUNS (pipeline12 module
    docstring) without touching text."""
    from event_store_spark.plans.pipeline12 import SUB_GRAM
    from event_store_spark.plans.tokenized import tokenized_projection

    slots = ", ".join(f"th[i + {j}]" for j in range(SUB_GRAM))
    gram_hashes = F.expr(
        f"transform(sequence(0, size(th) - {SUB_GRAM}), i -> xxhash64({slots}))"
    )
    return (
        tokenized_projection(docs)
        .select("doc_id", "th")
        .where(F.size("th") >= SUB_GRAM)
        .select("doc_id", F.posexplode(gram_hashes).alias("p", "g"))
        .withColumn("part", F.pmod(F.col("g"), F.lit(SUBSTR_PARTS)).cast("int"))
    )


def _signatures(docs: DataFrame, kind: str) -> DataFrame:
    from event_store_spark.plans.llm import minhash_band_signatures

    if kind == "substring":
        return _substring_postings(docs)

    if kind == "minhash":
        return minhash_band_signatures(docs)
    if kind == "winnow":
        return _winnow_signatures(docs)
    return _simhash_blocked(_simhash64_signatures(docs))


#: the blocking/partition column per kind (what probes equi-join on and
#: what the parquet layout partitions by, so probes prune)
_PART_COL = {"minhash": "band", "simhash64": "block_idx", "winnow": "part",
             "substring": "part"}


def _enforce_stoplist(sig: DataFrame, kind: str) -> DataFrame:
    """winnow only: drop fingerprints indexed by more than
    WINNOW_MAX_FP_DOCS documents (the registered query's MAX_FP_DOCS
    rule) — non-discriminative, and the per-key probe fan-out bound.
    Applied at BUILD and COMPACT; appends may transiently exceed it
    until the next compact (documented, same class as segment-wins)."""
    if kind == "substring":
        # the registered query's MAX_GRAM_OCCS stop-phrase rule: a gram
        # with more postings than the cap is boilerplate, dropped at
        # build/compact — also the per-key probe fan-out bound
        from event_store_spark.plans.pipeline12 import MAX_GRAM_OCCS

        keep = (
            sig.groupBy("g")
            .agg(F.count(F.lit(1)).alias("nd"))
            .where(F.col("nd") <= MAX_GRAM_OCCS)
        )
        return sig.join(keep.select("g"), "g")
    if kind != "winnow":
        return sig
    keep = (
        sig.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") <= WINNOW_MAX_FP_DOCS)
    )
    return sig.join(keep.select("fp"), "fp")


class DedupIndex:
    """Handle over a persisted dedup-signature index at ``path``."""

    def __init__(self, spark: SparkSession, path: str, kind: str):
        self.spark = spark
        self.path = path
        self.kind = kind
        self._gen = GenerationPair(path, "sigs", "meta.json")
        self._log = SegmentLog(spark, os.path.join(path, "segments"))

    # ----------------------------------------------------------- lifecycle

    @classmethod
    def build(
        cls, spark: SparkSession, docs: DataFrame, path: str, kind: str
    ) -> "DedupIndex":
        """Train-equivalent: compute the corpus signature table and
        persist it as a fresh generation (first build: pointerless
        original layout, meta written LAST as the completeness marker).
        A rebuild over an existing index replaces it: segments appended
        to the old generation are retired after the flip."""
        if kind not in KINDS:
            raise ValueError(f"kind must be one of {KINDS}, got {kind!r}")
        idx = cls(spark, path, kind)
        sig = _enforce_stoplist(_signatures(docs, kind), kind)
        idx._gen.publish(
            spark,
            lambda out: sig.write.mode("overwrite")
            .partitionBy(_PART_COL[kind])
            .parquet(out),
            meta=json.dumps({"kind": kind, "format": 1}),
        )
        idx._log.retire(idx._log.ids())
        return idx

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "DedupIndex":
        with open(os.path.join(path, "meta.json")) as fh:
            kind = json.load(fh)["kind"]
        return cls(spark, path, kind)

    def signatures(self, include_segment: bool = True) -> DataFrame:
        """The live signature table (lazy, partition-prunable); segment
        rows union on when present so probes see appended batches."""
        live_dir, _ = self._gen.live()
        sig = self.spark.read.parquet(os.path.join(self.path, live_dir))
        if include_segment:
            for seg in self._log.paths():
                sig = sig.unionByName(self.spark.read.parquet(seg))
        return sig

    # --------------------------------------------------------------- probe

    def probe(self, batch_docs: DataFrame) -> DataFrame:
        """Arriving batch vs the persisted index — batch signatures are
        computed here (one pass over the batch) and BROADCAST.

        simhash64 → (new_doc_id, match_doc_id, hd): best existing match
        per new doc within Hamming ≤ 3 (ties to lowest id) — the
        dedup_simhash_incremental contract served from files.
        minhash → (new_doc_id, match_doc_id, n_bands): distinct band-
        collision candidates with agreement counts; exact-Jaccard
        verification over candidate text is the caller's residual, as in
        dedup_incremental.
        winnow → (new_doc_id, match_doc_id, n_shared): pairs sharing ≥
        MIN_SHARED selected fingerprints (text_winnowing's pair rule) —
        self-sufficient, since ≥1 shared fingerprint already certifies a
        verbatim ≥ K+W−1-token overlap (the winnowing guarantee).
        substring → (new_doc_id, match_doc_id, span_tokens): the longest
        maximal verbatim span ≥ MIN_SUB_LEN tokens shared with each
        indexed document, recovered as diagonal anchor runs over the
        postings join (dedup_substring_spans' exact rule, served from
        files)."""
        sig = self.signatures()
        batch = _signatures(batch_docs, self.kind)
        if self.kind == "substring":
            from event_store_spark.plans.pipeline12 import (
                MIN_SUB_LEN,
                SUB_GRAM,
            )

            b = F.broadcast(
                batch.select(
                    F.col("doc_id").alias("new_id"),
                    F.col("p").alias("pnew"),
                    "part",
                    "g",
                )
            )
            joined = (
                sig.join(b, ["part", "g"])
                .where(F.col("doc_id") != F.col("new_id"))
                .select(
                    "new_id",
                    F.col("doc_id").alias("idx_id"),
                    (F.col("p") - F.col("pnew")).alias("delta"),
                    "pnew",
                )
            )
            w = Window.partitionBy("new_id", "idx_id", "delta").orderBy("pnew")
            return (
                joined.withColumn(
                    "isl", F.col("pnew") - F.row_number().over(w)
                )
                .groupBy("new_id", "idx_id", "delta", "isl")
                .agg(
                    (F.count(F.lit(1)) + (SUB_GRAM - 1)).alias("span_tokens")
                )
                .where(F.col("span_tokens") >= MIN_SUB_LEN)
                .groupBy(
                    F.col("new_id").alias("new_doc_id"),
                    F.col("idx_id").alias("match_doc_id"),
                )
                .agg(
                    F.max("span_tokens").cast("bigint").alias("span_tokens")
                )
                .orderBy("new_doc_id", "match_doc_id")
            )
        if self.kind == "winnow":
            from event_store_spark.plans.pipeline11 import MIN_SHARED

            b = F.broadcast(
                batch.select(F.col("doc_id").alias("new_id"), "part", "fp")
            )
            return (
                sig.join(b, ["part", "fp"])
                .where(F.col("doc_id") != F.col("new_id"))
                .groupBy(
                    F.col("new_id").alias("new_doc_id"),
                    F.col("doc_id").alias("match_doc_id"),
                )
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
                .where(F.col("n_shared") >= MIN_SHARED)
                .orderBy("new_doc_id", "match_doc_id")
            )
        if self.kind == "simhash64":
            b = F.broadcast(
                batch.select(
                    F.col("doc_id").alias("new_id"),
                    F.col("hi").alias("new_hi"),
                    F.col("lo").alias("new_lo"),
                    "block_idx",
                    "block",
                )
            )
            hd = F.bit_count(
                F.col("new_hi").bitwiseXOR(F.col("hi"))
            ) + F.bit_count(F.col("new_lo").bitwiseXOR(F.col("lo")))
            cand = (
                sig.join(b, ["block_idx", "block"])
                # a probed doc that was itself appended earlier must not
                # match its own index row (the incremental queries get
                # this for free from their source split)
                .where(F.col("doc_id") != F.col("new_id"))
                .select(
                    "new_id", F.col("doc_id").alias("idx_id"), hd.alias("hd")
                )
                .where(F.col("hd") <= 3)
                .distinct()
            )
            w = Window.partitionBy("new_id").orderBy("hd", "idx_id")
            return (
                cand.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select(
                    F.col("new_id").alias("new_doc_id"),
                    F.col("idx_id").alias("match_doc_id"),
                    F.col("hd").cast("bigint").alias("hd"),
                )
                .orderBy("new_doc_id")
            )
        b = F.broadcast(
            batch.select(
                F.col("doc_id").alias("new_id"), "band", "bandkey"
            )
        )
        return (
            sig.join(b, ["band", "bandkey"])
            .where(F.col("doc_id") != F.col("new_id"))
            .groupBy(
                F.col("new_id").alias("new_doc_id"),
                F.col("doc_id").alias("match_doc_id"),
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_bands"))
            .orderBy("new_doc_id", "match_doc_id")
        )

    # --------------------------------------------------------- maintenance

    def append(self, batch_docs: DataFrame, batch_id: int) -> None:
        """Fold an (admitted) batch's signatures into the index as the
        batch's own segment — the next probe sees them without a base
        rewrite. A crash-redelivered micro-batch rewrites its segment
        instead of appending duplicate signature rows, and a batch with
        no signature rows (every doc dropped upstream, or shorter than
        the scheme's minimum) leaves no segment (`SegmentLog.write`)."""
        self._log.write(
            batch_id,
            _signatures(batch_docs, self.kind),
            partition_by=(_PART_COL[self.kind],),
        )

    def compact(self) -> None:
        """Merge base + every segment dir into a fresh generation and
        flip; no-op without segments. A re-ingested doc keeps only its
        newest batch's signatures (`SegmentLog.newest`)."""
        ids = self._log.ids()
        if not ids:
            return
        base = self.signatures(include_segment=False)
        merged = _enforce_stoplist(
            self._log.newest("doc_id", base, upto=ids[-1]), self.kind
        )
        self._gen.publish(
            self.spark,
            lambda out: merged.write.mode("overwrite")
            .partitionBy(_PART_COL[self.kind])
            .parquet(out),
            meta=json.dumps({"kind": self.kind, "format": 1}),
        )
        self._log.retire(ids)
