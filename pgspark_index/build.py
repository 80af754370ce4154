"""Index build: webtext -> per-unit compressed posting-list segments + lineage.

Spark-first re-expression of pgstream's bulk parallel snapshot pipeline
(/root/reference/pkg/snapshot/generator/postgres/data/pg_snapshot_generator.go):

- pgstream splits a table into ctid page ranges and snapshots them with
  worker pools, recording per-table status for resume. We split the corpus
  into ``num_units`` deterministic work units (hash of url), build each
  unit as one Spark job, and commit a manifest row after the unit's files
  are fully written (commit-after-write, see manifest.py).
- pgstream picks Kafka partition keys to trade ordering vs skew
  (pkg/wal/processor/kafka/config.go:21-39). We hash-repartition on
  (term, salt) where head terms get a salt fan-out estimated from a
  sample — Zipf head terms would otherwise swamp single reducers; AQE
  does not rebalance applyInPandas/mapInPandas stages, so the salting is
  explicit.

Physical plan per unit (all relational parts stay in WholeStageCodegen;
Python appears in exactly ONE Arrow-vectorized tokenize stage — the round-1
design ran three tokenization passes per unit (doclen, salt sample,
partials); they are now a single pass whose output is persisted instead of
the raw corpus slice):

  scan (column-pruned: url, warc_ts, html, text)
   -> filter pmod(xxhash64(url), num_units) = unit        [unit predicate]
   -> repartition(P, stripe) where stripe = top bits of   [shuffle 1]
      xxhash64(doc_id) (deterministic, uniform — see ORD_SHIFT)
      + sortWithinPartitions(stripe, hash, doc_id ASC, version DESC, ...)
   -> ONE tokenize pass (mapInArrow): streaming LWW dedup
      (keep-first per doc_id over the sorted stream) + dense doc
      ORDINAL assignment (partition_id << 40 | rank), then emits BOTH
        kind=0 sidecar rows (ord, doc_id, url, doclen)    [docs by-product]
        kind=1 PARTIAL posting lists: local group +
        delta/varbyte encode + block-max meta per map
        partition (ordinal ranges DISJOINT across tasks)  [map-side combine]
   -> persist the combined output (compressed blobs + doc
      rows — far smaller than the raw slice)
   -> docs parquet  = filter kind=0                       [cache read]
   -> segments      = filter kind=1
      -> repartition(P, term, salt) hash                  [shuffle 2: blobs only]
      -> sortWithinPartitions(term, salt, first_doc)
      -> mapInArrow(SPLICE partials: byte-concat blobs,
         one varint patched per partial, block tables
         concatenated — O(rows), postings never decoded)  [Arrow]
      -> segments parquet under segments/unit=<u>/

The skew-salt plan is computed ONCE PER BUILD from a window-free sample of
the raw source (plan_salts_source) and reused by every unit — not one
sample pass per unit.

At 10^12 docs the unit count is chosen so one unit's tokenized form fits
the cluster's cache/disk comfortably (units are also the resume and
incremental-build granularity); within a unit parallelism is ``partitions``.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
from pyspark import StorageLevel, TaskContext
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from . import codecs, manifest
from .extract import (
    EXPLODED_SCHEMA,
    explode_token_counts_fn,
    webtext_to_docs,
)

SEG_SCHEMA = (
    "term string, salt int, part_id int, df bigint, cf bigint, "
    "block_last_doc array<bigint>, block_max_tf array<int>, "
    "block_min_dl array<int>, block_offset array<bigint>, postings binary, "
    "positions binary"
)


from contextlib import contextmanager  # noqa: E402


@contextmanager
def _aqe_disabled(spark: SparkSession):
    """Unit-build actions run with AQE off (restored on exit).

    AQE buys the unit pipeline nothing — its exchanges are explicit
    fixed-width repartitions AQE must not coalesce (the ordinal contract,
    see ORD_SHIFT), and it has no joins — but it MATERIALIZES the persisted
    tokenize output as its own adaptive query stage, which splits the fused
    job: the tokenize reduce ends at the cache instead of flowing straight
    into the partials shuffle map, adding a whole cache-read +
    re-serialize pass per unit (measured via the stage API: 5 stages vs 4,
    ~10-25% unit wall). Plan shape, partitioning, and output bytes are
    identical either way — only the stage fusion differs."""
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)

DOCS_SCHEMA = "ord bigint, doc_id bigint, url string, doclen int"

# dense doc ordinal (format v3): partition_id << ORD_SHIFT | rank-within-
# task. Posting gaps shrink from ~7 bytes (random 64-bit doc_id deltas) to
# 1-3 bytes (real doc distances) — Lucene's segment-local docID design.
# Determinism chain (bit-reproducible across builds/resumes at the same
# partition count): the shuffle key is a STRIPE = top bits of
# xxhash64(doc_id) (pure function of the id, uniform for any id shape —
# webtext hash ids and dense integer ids alike); partition assignment is
# murmur3(stripe) % P (Spark's fixed hash partitioner — unlike a range
# partitioner there is no nondeterministic boundary sampling); within the
# task, rank follows the (xxhash64(doc_id), doc_id) sort. Each task's
# ordinals are therefore a CONTIGUOUS range [pid<<SHIFT, pid<<SHIFT+n) —
# the splice-merge disjointness invariant — and every ordering invariant
# (streaming LWW, block skip pointers) holds in that order. Result
# tie-breaking happens on the mapped doc_id at emission (wand._exact_topk),
# so ordinal order never has to agree with doc_id order. The explicit
# numPartitions on the repartition keeps AQE from coalescing the exchange
# (coalescing would renumber partition ids).
ORD_SHIFT = 40
STRIPE_FACTOR = 16  # stripes per build partition (hash-bucket balance)


def _stripes_for(partitions: int) -> int:
    """Stripe count for a build: power of two >= STRIPE_FACTOR x partitions
    (power of two so the stripe is a plain unsigned shift of the hash)."""
    return 1 << max(1, math.ceil(math.log2(max(2, partitions * STRIPE_FACTOR))))


def segments_path(index_dir: str) -> str:
    return os.path.join(index_dir, "segments")


def docs_path(index_dir: str) -> str:
    return os.path.join(index_dir, "docs")


def quarantine_path(index_dir: str) -> str:
    """Failed-docs sidecar: (doc_id, error) rows for per-doc poison drops."""
    return os.path.join(index_dir, "quarantine")


_CHUNK_ROWS = 1 << 20  # ~1M postings (~50 MB of arrays) per vectorized flush
# flush granularity of the tokenize stage: ~2M postings bounds the python
# accumulator working set (~150 MB incl. term strings) — measured faster
# than one huge flush per task (allocator/cache pressure grows superlinear)
# while keeping per-flush numpy fixed costs negligible. The splice merge
# handles any number of per-(term,salt) partials.
_PARTIAL_CHUNK_ROWS = 2_000_000


PARTIAL_SCHEMA = "term string, salt int, df bigint, postings binary"

# ONE tokenize pass emits two row kinds (union schema): kind=0 doc rows and
# kind=1 partial posting lists (block metadata included — partials are
# FINAL-form slices of the segment list; the merge only splices them).
# Sentinels (not NULLs) keep every column a plain non-nullable Arrow
# primitive.
COMBINED_SCHEMA = (
    "kind int, term string, salt int, df bigint, cf bigint, first_doc bigint, "
    "block_last_doc array<bigint>, block_max_tf array<int>, "
    "block_min_dl array<int>, block_offset array<bigint>, postings binary, "
    "positions binary, ord bigint, doc_id bigint, url string, doclen int"
)

# multi-field variants: same row kinds, tagged with the owning field
# (single-pass multi-field build — see make_tokenize_multifield_fn)
COMBINED_MF_SCHEMA = COMBINED_SCHEMA + ", field string"
SEG_MF_SCHEMA = SEG_SCHEMA + ", field string"

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)

# ---- poison-doc quarantine policy ----------------------------------------
# Only DATA-SHAPED exceptions are quarantinable: the reference's retrier
# separates per-document data failures from internal/retriable errors and
# never swallows the latter (search_store_retrier.go:94-150
# getRetriableDocs; severity split in search/errors.go). Value/Type/Key/
# Index/Overflow/Unicode errors are what malformed text/ids raise —
# pyarrow's ArrowInvalid subclasses ValueError. Infra failures
# (MemoryError incl. pyarrow's ArrowMemoryError, OSError, interpreter
# errors) RE-RAISE and fail the unit, so a systematic tokenizer regression
# or allocator failure is a retried unit in the failure ledger, never
# silent per-doc data loss.
_QUARANTINABLE = (ValueError, TypeError, KeyError, IndexError, OverflowError)


def _quarantinable(exc: BaseException) -> bool:
    return isinstance(exc, _QUARANTINABLE) and not isinstance(exc, MemoryError)


# ---- Arrow construction helpers (hot-path stages are mapInArrow: columns
# are built straight from flat numpy/byte buffers — zero per-row Python
# objects, zero per-group bytes() slicing; the eliminated object churn is
# the memory traffic that throttled 8+ concurrent build workers) ----------


def _arrow_combined_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("kind", pa.int32()), ("term", pa.string()), ("salt", pa.int32()),
            ("df", pa.int64()), ("cf", pa.int64()), ("first_doc", pa.int64()),
            ("block_last_doc", pa.list_(pa.int64())),
            ("block_max_tf", pa.list_(pa.int32())),
            ("block_min_dl", pa.list_(pa.int32())),
            ("block_offset", pa.list_(pa.int64())),
            ("postings", pa.binary()), ("positions", pa.binary()),
            ("ord", pa.int64()), ("doc_id", pa.int64()),
            ("url", pa.string()), ("doclen", pa.int32()),
        ]
    )


def _arrow_seg_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("term", pa.string()), ("salt", pa.int32()), ("part_id", pa.int32()),
            ("df", pa.int64()), ("cf", pa.int64()),
            ("block_last_doc", pa.list_(pa.int64())),
            ("block_max_tf", pa.list_(pa.int32())),
            ("block_min_dl", pa.list_(pa.int32())),
            ("block_offset", pa.list_(pa.int64())),
            ("postings", pa.binary()), ("positions", pa.binary()),
        ]
    )


def _arrow_combined_mf_schema():
    import pyarrow as pa

    return _arrow_combined_schema().append(pa.field("field", pa.string()))


def _arrow_seg_mf_schema():
    import pyarrow as pa

    return _arrow_seg_schema().append(pa.field("field", pa.string()))


def _const_str_array(n: int, s: str):
    """n copies of one string as a single repeated buffer (no objects)."""
    import pyarrow as pa

    b = s.encode()
    offs = (np.arange(n + 1, dtype=np.int64) * len(b)).astype(np.int32)
    return pa.Array.from_buffers(
        pa.string(), n, [None, pa.py_buffer(offs), pa.py_buffer(b * n)]
    )


def _empty_varlen(n: int, typ):
    """n empty strings/bytes as ONE shared zero buffer (no objects)."""
    import pyarrow as pa

    offs = np.zeros(n + 1, dtype=np.int32)
    return pa.Array.from_buffers(typ, n, [None, pa.py_buffer(offs), pa.py_buffer(b"")])


def _empty_lists(n: int, typ):
    import pyarrow as pa

    offs = np.zeros(n + 1, dtype=np.int32)
    return pa.ListArray.from_arrays(pa.array(offs), pa.array([], type=typ))


def _binary_from_flat(blob, offsets: np.ndarray):
    """Binary column over ONE shared buffer: row k = blob[off[k]:off[k+1]]."""
    import pyarrow as pa

    return pa.Array.from_buffers(
        pa.binary(), len(offsets) - 1,
        [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(blob)],
    )


def _list_from_flat(row_offsets: np.ndarray, values, typ):
    """List column over ONE flat values array (``values``: numpy or Arrow)."""
    import pyarrow as pa

    vals = values if isinstance(values, pa.Array) else pa.array(values, type=typ)
    return pa.ListArray.from_arrays(
        pa.array(row_offsets.astype(np.int32)), vals
    )


def _doc_salt(doc_ids: np.ndarray, fanouts: np.ndarray) -> np.ndarray:
    """Deterministic per-doc salt in [0, fanout): golden-ratio mix of the
    doc_id (cheap numpy, engine-internal — nothing external depends on it).

    Fast path: only head-term postings (fanout > 1, typically a small
    fraction) pay the multiply/shift/mod — tail postings are salt 0."""
    salt = np.zeros(doc_ids.size, dtype=np.int32)
    m = fanouts > 1
    if m.any():
        u = np.asarray(doc_ids[m], dtype=np.int64).view(np.uint64) * _GOLDEN
        salt[m] = ((u >> np.uint64(33)).astype(np.int64) % fanouts[m]).astype(np.int32)
    return salt


class _PartialAcc:
    """Per-field posting accumulator of the tokenize stage (shared by the
    single-field and multi-field builds): buffers token-stream chunks and
    flushes the Arrow arrays of one kind=1 partial-posting-list batch
    (COMBINED_SCHEMA order, without any trailing field column).

    All buffered state is numpy/Arrow — no Python objects accumulate.
    """

    __slots__ = (
        "max_fanout", "max_term_bytes", "with_positions",
        "acc_uniq", "acc_code", "acc_tf", "acc_doc", "acc_dl", "acc_pos",
        "vocab_off", "buffered", "dropped", "salt_terms", "salt_fans",
    )

    def __init__(self, salt_map, max_fanout, max_term_bytes, with_positions):
        import pyarrow as pa

        self.max_fanout = max_fanout
        self.max_term_bytes = max_term_bytes
        self.with_positions = with_positions
        self.acc_uniq: list = []          # ARROW string arrays (per chunk)
        self.acc_code: list = []          # codes into the GLOBAL vocab
        self.acc_tf: list = []
        self.acc_doc: list = []           # doc ORDINAL per posting
        self.acc_dl: list = []            # doclen per posting
        self.acc_pos: list = []           # flat positions (with_positions)
        self.vocab_off = 0
        self.buffered = 0
        self.dropped = 0                  # oversize-guard dropped postings
        self.salt_terms = (
            pa.array(sorted(salt_map), type=pa.string()) if salt_map else None
        )
        self.salt_fans = (
            np.array([salt_map[t] for t in sorted(salt_map)], dtype=np.int64)
            if salt_map
            else None
        )

    def add(self, uniq_b, code_b, tf_b, doc_ords, dls, pos_b):
        if code_b.size == 0:
            return
        self.acc_uniq.append(uniq_b)
        self.acc_code.append(code_b + self.vocab_off)
        self.vocab_off += len(uniq_b)
        self.acc_tf.append(tf_b)
        self.acc_doc.append(doc_ords)
        self.acc_dl.append(dls)
        if self.with_positions:
            self.acc_pos.append(pos_b)
        self.buffered += int(code_b.size)

    def _reset(self):
        self.acc_uniq, self.acc_code, self.acc_tf = [], [], []
        self.acc_doc, self.acc_dl, self.acc_pos = [], [], []
        self.vocab_off = 0
        self.buffered = 0

    def flush(self):
        """-> list of COMBINED_SCHEMA arrays (ng partial rows) or None."""
        import pyarrow as pa
        import pyarrow.compute as pc

        if self.buffered == 0:
            return None
        # per-chunk vocabularies may repeat terms — one C++
        # dictionary_encode over the concatenated ARROW vocab
        # canonicalizes them for the whole flush (no object arrays)
        vocab = (
            pa.concat_arrays(self.acc_uniq)
            if len(self.acc_uniq) > 1
            else self.acc_uniq[0]
        )
        denc = pc.dictionary_encode(vocab)
        canon = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        uniques = denc.dictionary
        codes = canon[np.concatenate(self.acc_code)]
        doc = np.concatenate(self.acc_doc)
        dl = np.concatenate(self.acc_dl)
        tf = np.concatenate(self.acc_tf)
        sel = None  # final posting order as indices into the ORIGINAL arrays
        if self.max_term_bytes is not None:
            # Lucene-analog oversize guard (term byte cap 32766,
            # opensearch_mapper.go:44-53): drop oversized terms from the
            # postings (doclen keeps counting them, like Lucene norms),
            # account the drops. Vectorized over DISTINCT terms only.
            term_lens = pc.utf8_length(uniques).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            bad = term_lens > self.max_term_bytes
            if bad.any():
                keep = ~bad[codes]
                self.dropped += int((~keep).sum())
                sel = np.flatnonzero(keep)
                doc, dl, tf, codes = doc[keep], dl[keep], tf[keep], codes[keep]
                if doc.size == 0:
                    self._reset()
                    return None
        fan = np.ones(len(uniques), dtype=np.int64)
        if self.salt_terms is not None:
            # head-term fanout scatter: hash-probe the few salted terms
            # against the flush vocab in C++ (index_in), never a
            # per-unique Python dict lookup
            hit = pc.index_in(self.salt_terms, value_set=uniques)
            hit_np = hit.fill_null(-1).to_numpy(zero_copy_only=False).astype(np.int64)
            m = hit_np >= 0
            fan[hit_np[m]] = self.salt_fans[m]
        max_fanout = self.max_fanout
        salt = _doc_salt(doc, fan[codes])
        key = codes.astype(np.int64) * max_fanout + salt
        # postings are accumulated doc-major over an ASCENDING doc
        # stream, so a STABLE sort on the group key alone yields
        # doc-ascending order within each group. Composite pack+sort
        # (key<<k | index) is ~6x a stable argsort; key < 2^(63-k)
        # always holds here (key <= uniques*64 <= postings*64).
        n_post = key.shape[0]
        kbits = max(1, int(n_post - 1).bit_length())
        if int(key.max()) < (1 << (62 - kbits)):
            comp = (key << np.int64(kbits)) | np.arange(n_post, dtype=np.int64)
            comp.sort()
            order = comp & np.int64((1 << kbits) - 1)
            key = comp >> np.int64(kbits)
            doc, dl, tf = doc[order], dl[order], tf[order]
        else:
            order = np.argsort(key, kind="stable")
            doc, dl, tf, key = doc[order], dl[order], tf[order], key[order]
        starts = np.concatenate(([0], np.flatnonzero(key[1:] != key[:-1]) + 1))
        flat = codecs.encode_groups_flat(starts, doc, tf, dl, with_blocks=True)
        ng = flat["df"].shape[0]
        if self.with_positions:
            # ragged gather: reorder (and filter) each posting's
            # position slice into the sorted posting order, then one
            # vectorized encode for the whole flush
            tf_orig = np.concatenate(self.acc_tf)  # original accumulation order
            st = np.zeros(tf_orig.size, dtype=np.int64)
            np.cumsum(tf_orig[:-1], out=st[1:])
            final_idx = order if sel is None else sel[order]
            lens = tf_orig[final_idx]
            out_starts = np.zeros(lens.size, dtype=np.int64)
            np.cumsum(lens[:-1], out=out_starts[1:])
            total = int(lens.sum())
            gidx = (
                np.repeat(st[final_idx], lens)
                + np.arange(total, dtype=np.int64)
                - np.repeat(out_starts, lens)
            )
            pos_sorted = np.concatenate(self.acc_pos)[gidx]
            pos_blob, pos_offs = codecs.encode_position_groups_flat(
                starts, lens, pos_sorted
            )
        else:
            pos_blob, pos_offs = b"", np.zeros(ng + 1, dtype=np.int64)
        term_idx = key[starts] // max_fanout
        arrays = [
            pa.array(np.ones(ng, dtype=np.int32)),
            uniques.take(pa.array(term_idx)),
            pa.array((key[starts] % max_fanout).astype(np.int32)),
            pa.array(flat["df"].astype(np.int64)),
            pa.array(flat["cf"].astype(np.int64)),
            pa.array(doc[starts]),
            _list_from_flat(
                flat["blk_row_offsets"], flat["blk_last_doc"], pa.int64()
            ),
            _list_from_flat(
                flat["blk_row_offsets"], flat["blk_max_tf"], pa.int32()
            ),
            _list_from_flat(
                flat["blk_row_offsets"], flat["blk_min_dl"], pa.int32()
            ),
            _list_from_flat(
                flat["blk_row_offsets"], flat["blk_offset"], pa.int64()
            ),
            _binary_from_flat(flat["blob"], flat["post_offsets"]),
            _binary_from_flat(pos_blob, pos_offs),
            pa.array(np.full(ng, -1, dtype=np.int64)),
            pa.array(np.full(ng, -1, dtype=np.int64)),
            _empty_varlen(ng, pa.string()),
            pa.array(np.full(ng, -1, dtype=np.int32)),
        ]
        self._reset()
        return arrays


def _metrics_arrays(dropped: int):
    """kind=2 accounting row (COMBINED_SCHEMA order, no field column):
    dropped-posting counters for lineage (the reference's dropped-row
    counters, wal_kafka_batch_writer.go:168-179 / search_store.go:137-143)."""
    import pyarrow as pa

    return [
        pa.array([2], type=pa.int32()),
        pa.array([""], type=pa.string()),
        pa.array([-1], type=pa.int32()),
        pa.array([dropped], type=pa.int64()),
        pa.array([0], type=pa.int64()),
        pa.array([-1], type=pa.int64()),
        pa.array([[]], type=pa.list_(pa.int64())),
        pa.array([[]], type=pa.list_(pa.int32())),
        pa.array([[]], type=pa.list_(pa.int32())),
        pa.array([[]], type=pa.list_(pa.int64())),
        pa.array([b""], type=pa.binary()),
        pa.array([b""], type=pa.binary()),
        pa.array([-1], type=pa.int64()),
        pa.array([-1], type=pa.int64()),
        pa.array([""], type=pa.string()),
        pa.array([-1], type=pa.int32()),
    ]


def _quarantine_arrays(ids: list[int], errs: list[str]):
    """kind=3 poison-doc rows (COMBINED_SCHEMA order, no field column):
    per-document failures quarantined instead of failing the unit — the
    reference retries/drops individual failed documents of a bulk request,
    not the whole batch (search_store_retrier.go:94-150). doc_id carries
    the id (-1 if unreadable); the url column carries the error string."""
    import pyarrow as pa

    n = len(ids)
    return [
        pa.array(np.full(n, 3, dtype=np.int32)),
        _empty_varlen(n, pa.string()),
        pa.array(np.full(n, -1, dtype=np.int32)),
        pa.array(np.zeros(n, dtype=np.int64)),
        pa.array(np.zeros(n, dtype=np.int64)),
        pa.array(np.full(n, -1, dtype=np.int64)),
        _empty_lists(n, pa.int64()),
        _empty_lists(n, pa.int32()),
        _empty_lists(n, pa.int32()),
        _empty_lists(n, pa.int64()),
        _empty_varlen(n, pa.binary()),
        _empty_varlen(n, pa.binary()),
        pa.array(np.full(n, -1, dtype=np.int64)),
        pa.array(np.asarray(ids, dtype=np.int64)),
        pa.array([e[:500] for e in errs], type=pa.string()),
        pa.array(np.full(n, -1, dtype=np.int32)),
    ]


def _doc_row_arrays(n, ords, doc_ids, url_arr, doclens):
    """kind=0 docs-sidecar row arrays (COMBINED_SCHEMA order, no field)."""
    import pyarrow as pa

    return [
        pa.array(np.zeros(n, dtype=np.int32)),
        _empty_varlen(n, pa.string()),
        pa.array(np.full(n, -1, dtype=np.int32)),
        pa.array(np.zeros(n, dtype=np.int64)),
        pa.array(np.zeros(n, dtype=np.int64)),
        pa.array(np.full(n, -1, dtype=np.int64)),
        _empty_lists(n, pa.int64()),
        _empty_lists(n, pa.int32()),
        _empty_lists(n, pa.int32()),
        _empty_lists(n, pa.int64()),
        _empty_varlen(n, pa.binary()),
        _empty_varlen(n, pa.binary()),
        pa.array(ords),
        pa.array(doc_ids),
        url_arr,
        pa.array(doclens.astype(np.int32)),
    ]


def make_tokenize_fn(
    salt_map: dict[str, int],
    max_fanout: int = 64,
    max_term_bytes: int | None = 32766,
    with_positions: bool = False,
    chunk_rows: int | None = None,
):
    """mapInArrow factory: corpus rows -> doc rows + PARTIAL posting lists
    in ONE tokenization pass (COMBINED_SCHEMA, Arrow record batches).

    Input contract (enforced by build_unit): rows arrive hash-stripe
    partitioned (whole stripes per task) and sorted within the partition
    by (stripe, xxhash64(doc_id), doc_id ASC, version DESC, text-not-null
    DESC, ...). Three things follow:

    - last-writer-wins dedup is a streaming keep-first-per-doc_id mask
      (pgstream's LSN-as-version resolution, search_adapter.go:179-184) —
      no Window exec needed;
    - dense doc ordinals (partition_id << ORD_SHIFT | rank) are a
      running counter over the sorted stream — deterministic because the
      stripe -> partition routing (murmur3 % P) and the in-task order are
      pure functions of the data (at a fixed partition count);
    - every partial list this task emits covers an ordinal range DISJOINT
      from (and ordered against) every other task's — so the downstream
      merge can SPLICE compressed blobs instead of decode/sort/re-encode.

    The map-side combine of the classic MapReduce index build: each input
    partition tokenizes its docs, groups locally by (term, salt), and emits
    delta+varbyte-encoded partial lists WITH final block-max metadata. Only
    compressed blobs cross the shuffle (~2.3 B/posting [gap, tf]) and the
    JVM never materializes per-posting rows.

    Arrow-native end to end: input text/url columns stay Arrow (zero
    per-doc Python strings for ASCII text), the term dictionary stays an
    Arrow StringArray through the cross-batch canonicalization
    (dictionary_encode — no pandas factorize over object arrays), and
    output columns are built from the encoder's FLAT buffers
    (binary/list columns over one shared buffer — no per-group bytes()
    slices, no object columns). The eliminated allocation/GC/memcpy churn
    is what contended for memory bandwidth at 8+ concurrent workers.

    The docs side table (doc_id, url, doclen) falls out of the same pass as
    kind=0 rows — the reference precedent for one-touch row adaptation is
    pg_snapshot_generator.go:409-467 (each scanned row adapted exactly once).

    Partial lists may be emitted more than once per (term, salt, partition)
    (chunked flushes, bounded by ``chunk_rows`` buffered postings — env
    PGSPARK_PARTIAL_CHUNK_ROWS tunes the working set) — still doc-ordered
    and disjoint; the splice merge handles any number of partials."""
    chunk = int(
        chunk_rows
        or os.environ.get("PGSPARK_PARTIAL_CHUNK_ROWS", _PARTIAL_CHUNK_ROWS)
    )

    def fn(batches):
        import pyarrow as pa

        from .textnorm import batch_token_stream_arrow as _bts

        schema = _arrow_combined_schema()
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        ord_base = np.int64(pid) << np.int64(ORD_SHIFT)
        doc_seq = 0  # rank of the next KEPT doc within this task
        prev_doc = None  # streaming-dedup carry across batches
        acc = _PartialAcc(salt_map, max_fanout, max_term_bytes, with_positions)

        q_ids: list[int] = []
        q_errs: list[str] = []

        def consume(batch):
            """Tokenize one input batch -> kind=0 doc-row RecordBatch (or
            None if fully deduped). Failure-atomic: everything fallible
            (id decode, text resolve, tokenize) runs BEFORE any mutation
            of acc/doc_seq/prev_doc, so the per-doc fallback can replay
            the batch row by row after an exception."""
            nonlocal doc_seq, prev_doc
            n = batch.num_rows
            names = batch.schema.names
            id_col = batch.column("doc_id")
            if id_col.null_count:
                raise ValueError("null doc_id")
            doc_ids = id_col.to_numpy(zero_copy_only=False).astype(
                np.int64, copy=False
            )
            # streaming LWW dedup: input sorted (doc_id ASC, version DESC,
            # ...), keep the FIRST row per doc_id (duplicates consecutive)
            keep = np.ones(n, dtype=bool)
            keep[1:] = doc_ids[1:] != doc_ids[:-1]
            if prev_doc is not None and doc_ids[0] == prev_doc:
                keep[0] = False
            last_doc = int(doc_ids[-1])
            if not keep.all():
                batch = batch.filter(pa.array(keep))
                doc_ids = doc_ids[keep]
                n = batch.num_rows
            if n == 0:
                prev_doc = last_doc
                return None
            html_arr = batch.column("html") if "html" in names else None
            text_arr = batch.column("text")
            dl_b, doc_idx_b, code_b, tf_b, uniq_b, pos_b = _bts(
                html_arr, text_arr, with_positions
            )
            # -- fallible section over; commit state --
            prev_doc = last_doc
            # dense ordinals (format v3): pid << ORD_SHIFT | running rank
            # over this task's kept docs (contiguous per task — the splice
            # disjointness invariant; quarantined docs consume no ordinal)
            ords = ord_base + np.int64(doc_seq) + np.arange(n, dtype=np.int64)
            doc_seq += n
            acc.add(uniq_b, code_b, tf_b, ords[doc_idx_b], dl_b[doc_idx_b], pos_b)
            url_arr = (
                batch.column("url") if "url" in names else _empty_varlen(n, pa.string())
            )
            return pa.RecordBatch.from_arrays(
                _doc_row_arrays(n, ords, doc_ids, url_arr, dl_b), schema=schema
            )

        for batch in batches:
            if batch.num_rows == 0:
                continue
            try:
                out = [consume(batch)]
            except Exception as exc:  # noqa: BLE001 — poison batch?
                if not _quarantinable(exc):
                    raise  # infra/internal failure: fail the unit (retried)
                out = []
                for i in range(batch.num_rows):
                    row = batch.slice(i, 1)
                    try:
                        out.append(consume(row))
                    except Exception as exc:  # noqa: BLE001 — quarantine doc
                        if not _quarantinable(exc):
                            raise
                        rid = row.column("doc_id")
                        did = rid[0].as_py() if rid.null_count == 0 else -1
                        q_ids.append(int(did) if did is not None else -1)
                        q_errs.append(f"{type(exc).__name__}: {exc}")
                        # the doc is DROPPED whole: older versions of the
                        # same id must not resurrect it
                        prev_doc = int(did) if did is not None else prev_doc
            for rb in out:
                if rb is not None:
                    yield rb
            if acc.buffered >= chunk:
                arrays = acc.flush()
                if arrays is not None:
                    yield pa.RecordBatch.from_arrays(arrays, schema=schema)
        arrays = acc.flush()
        if arrays is not None:
            yield pa.RecordBatch.from_arrays(arrays, schema=schema)
        if acc.dropped:
            yield pa.RecordBatch.from_arrays(_metrics_arrays(acc.dropped), schema=schema)
        if q_ids:
            yield pa.RecordBatch.from_arrays(
                _quarantine_arrays(q_ids, q_errs), schema=schema
            )

    return fn


def make_tokenize_multifield_fn(
    field_names: list[str],
    salt_maps: dict[str, dict[str, int]] | None = None,
    max_fanout: int = 64,
    max_term_bytes: int | None = 32766,
    chunk_rows: int | None = None,
    with_positions: bool = False,
):
    """mapInArrow factory for the SINGLE-PASS multi-field build: one
    tokenization pass over the corpus emits EVERY field's doc rows and
    partial posting lists, tagged with a ``field`` column
    (COMBINED_MF_SCHEMA).

    Reference shape: pgstream indexes every column of a document into one
    search store with per-column typed mappings
    (/root/reference/pkg/wal/processor/search/store/search_pg_mapper.go:137-183)
    — K scored text fields never cost K passes over the table. Here each
    input batch is tokenized once per field column (``__field_<name>``),
    into per-field accumulators; doc ordinals are assigned ONCE per doc and
    shared by every field, so all field indexes of a unit agree on the
    ordinal space and differ only in doclen/postings."""
    salt_maps = salt_maps or {}
    chunk = int(
        chunk_rows
        or os.environ.get("PGSPARK_PARTIAL_CHUNK_ROWS", _PARTIAL_CHUNK_ROWS)
    )

    def fn(batches):
        import pyarrow as pa

        from .textnorm import batch_token_stream_arrow as _bts

        schema = _arrow_combined_mf_schema()
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        ord_base = np.int64(pid) << np.int64(ORD_SHIFT)
        doc_seq = 0
        prev_doc = None
        accs = {
            f: _PartialAcc(
                salt_maps.get(f, {}), max_fanout, max_term_bytes, with_positions
            )
            for f in field_names
        }

        def tagged(arrays, f, n):
            return pa.RecordBatch.from_arrays(
                arrays + [_const_str_array(n, f)], schema=schema
            )

        q_ids: list[int] = []
        q_errs: list[str] = []

        def consume(batch):
            """One input batch -> list of tagged doc-row RecordBatches
            (one per field). Failure-atomic like the single-field path:
            every fallible step (id decode, ALL fields' tokenize) runs
            before any accumulator/counter mutation, so a poison doc is
            dropped from EVERY field, never half-indexed."""
            nonlocal doc_seq, prev_doc
            n = batch.num_rows
            names = batch.schema.names
            id_col = batch.column("doc_id")
            if id_col.null_count:
                raise ValueError("null doc_id")
            doc_ids = id_col.to_numpy(zero_copy_only=False).astype(
                np.int64, copy=False
            )
            keep = np.ones(n, dtype=bool)
            keep[1:] = doc_ids[1:] != doc_ids[:-1]
            if prev_doc is not None and doc_ids[0] == prev_doc:
                keep[0] = False
            last_doc = int(doc_ids[-1])
            if not keep.all():
                batch = batch.filter(pa.array(keep))
                doc_ids = doc_ids[keep]
                n = batch.num_rows
            if n == 0:
                prev_doc = last_doc
                return []
            toks = {
                f: _bts(None, batch.column(f"__field_{f}"), with_positions)
                for f in field_names
            }
            # -- fallible section over; commit state --
            prev_doc = last_doc
            ords = ord_base + np.int64(doc_seq) + np.arange(n, dtype=np.int64)
            doc_seq += n
            url_arr = (
                batch.column("url") if "url" in names else _empty_varlen(n, pa.string())
            )
            out = []
            for f in field_names:
                dl_b, doc_idx_b, code_b, tf_b, uniq_b, pos_b = toks[f]
                accs[f].add(
                    uniq_b, code_b, tf_b, ords[doc_idx_b], dl_b[doc_idx_b], pos_b
                )
                out.append(tagged(_doc_row_arrays(n, ords, doc_ids, url_arr, dl_b), f, n))
            return out

        for batch in batches:
            if batch.num_rows == 0:
                continue
            try:
                out = consume(batch)
            except Exception as exc:  # noqa: BLE001 — poison batch?
                if not _quarantinable(exc):
                    raise  # infra/internal failure: fail the unit (retried)
                out = []
                for i in range(batch.num_rows):
                    row = batch.slice(i, 1)
                    try:
                        out.extend(consume(row))
                    except Exception as exc:  # noqa: BLE001 — quarantine doc
                        if not _quarantinable(exc):
                            raise
                        rid = row.column("doc_id")
                        did = rid[0].as_py() if rid.null_count == 0 else -1
                        q_ids.append(int(did) if did is not None else -1)
                        q_errs.append(f"{type(exc).__name__}: {exc}")
                        prev_doc = int(did) if did is not None else prev_doc
            yield from out
            for f in field_names:
                if accs[f].buffered >= chunk:
                    arrays = accs[f].flush()
                    if arrays is not None:
                        yield tagged(arrays, f, len(arrays[0]))
        for f in field_names:
            arrays = accs[f].flush()
            if arrays is not None:
                yield tagged(arrays, f, len(arrays[0]))
            if accs[f].dropped:
                yield tagged(_metrics_arrays(accs[f].dropped), f, 1)
        if q_ids:
            # quarantined docs are field-independent: tag with the FIRST
            # field (one sidecar row per doc, accounted once)
            yield tagged(
                _quarantine_arrays(q_ids, q_errs), field_names[0], len(q_ids)
            )

    return fn


# output-batch flush threshold of the splice merge: a batch is emitted
# once its postings (or positions) bytes reach this, keeping every
# per-batch Binary column safely below Arrow's 2 GiB int32-offset ceiling
# no matter how large the shuffle partition is. One (term, salt) group is
# never split across batches; a SINGLE group past 2 GiB raises (raise the
# term's salt fanout instead — plan_salts bounds group size by design).
_SPLICE_FLUSH_BYTES = int(os.environ.get("PGSPARK_SPLICE_FLUSH_BYTES", 1 << 30))

# ---- bytes-adaptive partials shuffle width --------------------------------
# The partials exchange used to inherit the full build width; at small
# data-to-width ratios that leaves hundreds of near-empty reduce tasks,
# each paying an Arrow worker roundtrip and a parquet writer open/close
# (A/B at 200k docs / width 128 -> 32: build 10.2 -> 8.4 s). The width now
# derives from the salt-plan sample's postings estimate — BYTES PER REDUCE
# PARTITION, not a core count — and is capped at `partitions`, so at real
# scale (estimate >> target x partitions) it equals the build width
# exactly as before. ~8 B/posting is the measured partials-shuffle rate at
# small scale (per-partial row overhead dominates); it overestimates at
# large scale, which only errs toward more partitions (the safe side for
# reducer memory). This is AQE's advisory-partition-size discipline
# applied to an exchange AQE cannot touch (explicit repartition widths are
# user-pinned).
_SEG_PART_TARGET_BYTES = int(
    os.environ.get("PGSPARK_SEG_PART_TARGET_BYTES", 4 << 20)
)
_PARTIAL_BYTES_PER_POSTING = 8

# row-group byte bound for segment parquet files (see the write site).
# Segment reads are POINT lookups (term IN over term-sorted files), so
# small groups maximize row-group pruning; 1 MB measured best on the
# 50-query pass with no build cost (vs whole-file decompression at the
# parquet default 128 MB).
_SEG_ROWGROUP_BYTES = int(
    os.environ.get("PGSPARK_SEG_ROWGROUP_BYTES", 1 << 20)
)


def _seg_shuffle_width(unit_est_postings, partitions: int) -> int:
    """Partials-shuffle width for one unit from its postings estimate.
    Falls back to the full build width when no estimate is available."""
    if not unit_est_postings or unit_est_postings <= 0 or _SEG_PART_TARGET_BYTES <= 0:
        return partitions
    unit_bytes = unit_est_postings * _PARTIAL_BYTES_PER_POSTING
    return max(1, min(partitions, math.ceil(unit_bytes / _SEG_PART_TARGET_BYTES)))


def _splice_merge_fn(batches):
    """mapInArrow: shuffled partial lists (sorted by term, salt, first_doc)
    -> final segment rows by BLOB SPLICING — O(rows), not O(postings).

    Partials of one (term, salt) group cover disjoint, ordered doc-id
    ranges (build_unit range-partitions the corpus by doc_id), so the final
    list is the byte concatenation of the partial blobs with exactly ONE
    varint patched per partial: its first value (an absolute biased doc id)
    becomes the gap from the previous partial's last doc. Block-max tables
    concatenate with offset shifts. Postings are never decoded here — the
    round-1 decode/lexsort/re-encode merge was memory-bandwidth-bound and
    capped multi-core scaling; splicing touches ~bytes-of-metadata only.

    Arrow-native and 2 GiB-safe end to end: input Binary/List columns are
    read per input batch as (offsets, flat buffer) pairs — zero per-row
    bytes()/ndarray objects — and accumulated under INT64 offsets, so a
    shuffle partition whose postings or positions column exceeds Arrow's
    int32 offset range never overflows (the old combine_chunks()+chunk(0)
    path aborted there). Output is emitted in multiple record batches
    bounded by _SPLICE_FLUSH_BYTES; three of the four block tables and the
    positions bytes are contiguous slices of the input flat buffers (group
    concatenation of adjacent rows is the identity on the flat buffer).

    Blocks stay valid (decode_block handles ragged blocks); compression is
    preserved (the patched gap is a true small delta)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark import TaskContext

    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else -1

    def bin_parts(arr):
        # (byte offsets int64[n+1] rebased to 0, flat uint8 data slice)
        o = np.frombuffer(arr.buffers()[1], dtype=np.int32)
        o = o[arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
        buf = arr.buffers()[2]
        data = (
            np.frombuffer(buf, dtype=np.uint8) if buf is not None
            else np.zeros(0, dtype=np.uint8)
        )
        return o - o[0], data[o[0] : o[-1]]

    def list_parts(arr):
        # (value offsets int64[n+1] rebased to 0, flat child values slice)
        o = np.frombuffer(arr.buffers()[1], dtype=np.int32)
        o = o[arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
        vals = arr.values.slice(int(o[0]), int(o[-1] - o[0]))
        return o - o[0], vals.to_numpy(zero_copy_only=False)

    term_chunks: list = []
    field_chunks: list = []
    salt_c, df_c, cf_c, first_c = [], [], [], []
    post_off_c, post_dat = [], []
    pos_off_c, pos_dat = [], []
    blk_off_c = []  # all four block tables share one offsets structure
    bld_c, bmt_c, bmd_c, boff_c = [], [], [], []
    post_base = pos_base = blk_base = 0
    has_field = False
    for b in batches:
        if b.num_rows == 0:
            continue
        has_field = "field" in b.schema.names
        term_chunks.append(b.column("term"))
        if has_field:
            field_chunks.append(b.column("field"))
        salt_c.append(b.column("salt").to_numpy(zero_copy_only=False))
        df_c.append(b.column("df").to_numpy(zero_copy_only=False))
        cf_c.append(b.column("cf").to_numpy(zero_copy_only=False))
        first_c.append(b.column("first_doc").to_numpy(zero_copy_only=False))
        o, d = bin_parts(b.column("postings"))
        post_off_c.append(o[:-1] + post_base)
        post_dat.append(d)
        post_base += d.shape[0]
        o, d = bin_parts(b.column("positions"))
        pos_off_c.append(o[:-1] + pos_base)
        pos_dat.append(d)
        pos_base += d.shape[0]
        o, v = list_parts(b.column("block_last_doc"))
        blk_off_c.append(o[:-1] + blk_base)
        blk_base += v.shape[0]
        bld_c.append(v)
        _, v = list_parts(b.column("block_max_tf"))
        bmt_c.append(v)
        _, v = list_parts(b.column("block_min_dl"))
        bmd_c.append(v)
        _, v = list_parts(b.column("block_offset"))
        boff_c.append(v)
    if not term_chunks:
        return

    def cat(chunks, dtype, total, sentinel=None):
        parts = chunks if sentinel is None else chunks + [
            np.array([total], dtype=np.int64)
        ]
        a = parts[0] if len(parts) == 1 else np.concatenate(parts)
        return a.astype(dtype, copy=False)

    term = term_chunks[0] if len(term_chunks) == 1 else pa.concat_arrays(term_chunks)
    field = None
    if has_field:
        field = (
            field_chunks[0] if len(field_chunks) == 1
            else pa.concat_arrays(field_chunks)
        )
    salts = cat(salt_c, np.int32, 0)
    dfs = cat(df_c, np.int64, 0)
    cfs = cat(cf_c, np.int64, 0)
    first = cat(first_c, np.int64, 0)
    n = salts.shape[0]
    post_o = cat(post_off_c, np.int64, post_base, sentinel=True)
    post_d = post_dat[0] if len(post_dat) == 1 else np.concatenate(post_dat)
    pos_o = cat(pos_off_c, np.int64, pos_base, sentinel=True)
    pos_d = pos_dat[0] if len(pos_dat) == 1 else np.concatenate(pos_dat)
    blk_o = cat(blk_off_c, np.int64, blk_base, sentinel=True)
    bld_np = bld_c[0] if len(bld_c) == 1 else np.concatenate(bld_c)
    bmt_np = bmt_c[0] if len(bmt_c) == 1 else np.concatenate(bmt_c)
    bmd_np = bmd_c[0] if len(bmd_c) == 1 else np.concatenate(bmd_c)
    boff_np = (
        boff_c[0] if len(boff_c) == 1 else np.concatenate(boff_c)
    ).astype(np.int64, copy=False)

    if n > 1:
        neq = pc.not_equal(term.slice(1), term.slice(0, n - 1)).to_numpy(
            zero_copy_only=False
        )
        if has_field:
            neq |= pc.not_equal(field.slice(1), field.slice(0, n - 1)).to_numpy(
                zero_copy_only=False
            )
        grp = np.concatenate(([0], np.flatnonzero(neq | (salts[1:] != salts[:-1])) + 1))
    else:
        grp = np.zeros(1, dtype=np.int64)
    ge = np.concatenate((grp[1:], [n]))
    ng = grp.shape[0]
    df_g = np.add.reduceat(dfs, grp)
    cf_g = np.add.reduceat(cfs, grp)
    out_schema = _arrow_seg_mf_schema() if has_field else _arrow_seg_schema()

    # ---- vectorized splice planning (NO per-row Python loop) ------------
    # Total partial rows in a build are ~vocab x tokenize-partitions, i.e.
    # they GROW with cluster size — a per-row Python loop here is per-core
    # CONSTANT work at every executor count (the profiled ~3-4 s flat
    # component that capped the segments phase at ~0.58 scaling
    # efficiency). All per-row arithmetic (first-varint lengths, gap
    # varints, byte shifts, block-offset patches) is numpy below; the only
    # Python-level iteration left is one buffer-slice append per PATCH
    # (b"".join of verbatim spans + patched gap varints), which is
    # memcpy-bound, not interpreter-bound.
    mv_post = memoryview(post_d)
    is_first = np.zeros(n, dtype=bool)
    is_first[grp] = True
    nf_idx = np.flatnonzero(~is_first)  # rows whose first varint is patched
    blocks_per_row = blk_o[1:] - blk_o[:-1]
    if nf_idx.size:
        prev_last = bld_np[blk_o[nf_idx] - 1].astype(np.int64)
        gaps = first[nf_idx] - prev_last
        if (gaps <= 0).any():
            bad = int(nf_idx[int(np.argmax(gaps <= 0))])
            s = int(grp[np.searchsorted(grp, bad, "right") - 1])
            raise ValueError(
                "splice-merge invariant violated: overlapping doc ranges "
                f"for term={term[s].as_py()!r} salt={int(salts[s])} "
                f"(first_doc {int(first[bad])} <= prev last "
                f"{int(bld_np[blk_o[bad] - 1])}); build_unit "
                "must range-partition the corpus by doc_id"
            )
        # old first-varint byte lengths (vectorized LEB128 scan) and the
        # new gap varints for every patched row, in one encode pass
        _, fl_nf = codecs.read_first_varints(post_d, post_o[nf_idx])
        vb_bytes, vb_len = codecs.varbyte_encode(gaps.astype(np.uint64))
        vb_off = np.zeros(nf_idx.size + 1, dtype=np.int64)
        np.cumsum(vb_len, dtype=np.int64, out=vb_off[1:])
        delta_nf = vb_len.astype(np.int64) - fl_nf
    else:
        vb_bytes = b""
        vb_off = np.zeros(1, dtype=np.int64)
        fl_nf = delta_nf = np.zeros(0, dtype=np.int64)
    mv_vb = memoryview(vb_bytes)
    # per-row output byte counts and in-group byte bases
    contrib = (post_o[1:] - post_o[:-1]).copy()
    if nf_idx.size:
        contrib[nf_idx] += delta_nf
    cum_row = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(contrib, dtype=np.int64, out=cum_row[1:])
    group_len = cum_row[ge] - cum_row[grp]
    base_row = cum_row[:n] - np.repeat(cum_row[grp], ge - grp)
    # block offsets: shift every patched row's blocks by (base + delta),
    # then reset each patched row's FIRST block offset to base (block 0
    # starts at the patched varint, whose length change is what delta
    # accounts for in blocks 1+)
    shift = base_row.copy()
    if nf_idx.size:
        shift[nf_idx] += delta_nf
    out_boff = boff_np + np.repeat(shift, blocks_per_row)
    if nf_idx.size:
        nfb = nf_idx[blocks_per_row[nf_idx] > 0]
        out_boff[blk_o[nfb]] = base_row[nfb]
    cum_group = np.zeros(ng + 1, dtype=np.int64)
    np.cumsum(group_len, dtype=np.int64, out=cum_group[1:])
    pos_end_g = pos_o[ge]  # positions byte end per group

    def emit(a, b):
        if cum_group[b] - cum_group[a] >= (1 << 31):
            raise ValueError(
                "spliced postings batch exceeds 2 GiB (first term="
                f"{term[int(grp[a])].as_py()!r}); a single (term, salt) group "
                "this large means the term needs a higher salt fanout "
                "(plan_salts salt_target/max_fanout)"
            )
        gsl = grp[a:b]
        take = pa.array(gsl)
        nrows = b - a
        r0, r1 = int(grp[a]), int(ge[b - 1])
        v0, v1 = int(blk_o[r0]), int(blk_o[r1])
        row_off = np.concatenate((blk_o[gsl], [v1])) - v0
        p0, p1 = int(pos_o[r0]), int(pos_o[r1])
        if p1 - p0 >= (1 << 31):
            raise ValueError("positions bytes of one group batch exceed 2 GiB")
        # assemble the batch's postings bytes: verbatim spans of the input
        # flat buffer interleaved with the patched gap varints
        lo = int(np.searchsorted(nf_idx, r0, "left"))
        hi = int(np.searchsorted(nf_idx, r1, "left"))
        if lo == hi:
            blob = mv_post[int(post_o[r0]) : int(post_o[r1])]
        else:
            cuts = post_o[nf_idx[lo:hi]]
            resumes = (cuts + fl_nf[lo:hi]).tolist()
            parts = []
            ap = parts.append
            prev = int(post_o[r0])
            for c, rs, va, vz in zip(
                cuts.tolist(), resumes, vb_off[lo:hi].tolist(),
                vb_off[lo + 1 : hi + 1].tolist(),
            ):
                ap(mv_post[prev:c])
                ap(mv_vb[va:vz])
                prev = rs
            ap(mv_post[prev : int(post_o[r1])])
            blob = b"".join(parts)
        arrays = [
            term.take(take),
            pa.array(salts[gsl]),
            pa.array(np.full(nrows, pid, dtype=np.int32)),
            pa.array(df_g[a:b]),
            pa.array(cf_g[a:b]),
            _list_from_flat(row_off, pa.array(bld_np[v0:v1], type=pa.int64()), None),
            _list_from_flat(row_off, pa.array(bmt_np[v0:v1], type=pa.int32()), None),
            _list_from_flat(row_off, pa.array(bmd_np[v0:v1], type=pa.int32()), None),
            _list_from_flat(row_off, pa.array(out_boff[v0:v1], type=pa.int64()), None),
            _binary_from_flat(blob, cum_group[a : b + 1] - cum_group[a]),
            # positions are doc-local gaps — group concat is the identity
            # on the flat buffer: a contiguous slice with rebased offsets
            _binary_from_flat(
                pos_d[p0:p1],
                np.concatenate((pos_o[gsl], [p1])) - p0,
            ),
        ]
        if has_field:
            arrays.append(field.take(take))
        return pa.RecordBatch.from_arrays(arrays, schema=out_schema)

    # flush boundaries: emit whole groups, INCLUDING the group that crosses
    # _SPLICE_FLUSH_BYTES (postings out-bytes or positions span, whichever
    # trips first) — identical batching to the per-group accumulate loop
    a = 0
    while a < ng:
        k1 = int(
            np.searchsorted(
                cum_group[a + 1 :], cum_group[a] + _SPLICE_FLUSH_BYTES, "left"
            )
        ) + a
        k2 = int(
            np.searchsorted(
                pos_end_g[a:], pos_o[grp[a]] + _SPLICE_FLUSH_BYTES, "left"
            )
        ) + a
        b = min(min(k1, k2) + 1, ng)
        yield emit(a, b)
        a = b


# committed segment rows recast as splice-ready partials (the fold path):
# same columns the build's partials carry into _splice_merge_fn
PARTIAL_FULL_SCHEMA = (
    "term string, salt int, df bigint, cf bigint, first_doc bigint, "
    "block_last_doc array<bigint>, block_max_tf array<int>, "
    "block_min_dl array<int>, block_offset array<bigint>, postings binary, "
    "positions binary"
)


def _arrow_partial_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("term", pa.string()), ("salt", pa.int32()),
            ("df", pa.int64()), ("cf", pa.int64()), ("first_doc", pa.int64()),
            ("block_last_doc", pa.list_(pa.int64())),
            ("block_max_tf", pa.list_(pa.int32())),
            ("block_min_dl", pa.list_(pa.int32())),
            ("block_offset", pa.list_(pa.int64())),
            ("postings", pa.binary()), ("positions", pa.binary()),
        ]
    )


def make_rebase_fn(bases: dict[int, int]):
    """mapInArrow factory for the tiered unit merge (incremental.merge_units):
    committed SEGMENT rows (with their ``unit`` partition column) ->
    splice-ready PARTIAL rows whose doc ordinals are shifted by the
    per-unit base ``bases[unit]`` (a constant ``offset << ORD_SHIFT`` —
    the closed-form ordinal re-basing, same family as compact's
    renumbering).

    Because an ordinal is ``partition_id << ORD_SHIFT | rank``, adding the
    base re-labels the unit's partitions into a combined ordinal grid
    without decoding a single posting: only each list's FIRST varint (the
    absolute first ordinal) is rewritten, block_last_doc values shift by
    the constant, and block_offset entries absorb the first-varint length
    change. Positions are doc-local gaps — untouched. Everything is
    vectorized over the batch's flat buffers (read_first_varints /
    varbyte_encode / ragged_copy): zero per-posting work, zero per-row
    Python string/bytes objects.

    Reference precedent: Lucene's segment merge renumbers docIDs by
    concatenating segment ordinal ranges (the search store the reference
    writes to inherits exactly this, docs-side); pgstream's own analog is
    the recorder folding completed work units
    (snapshot_generator_recorder.go:241-379)."""

    def fn(batches):
        import pyarrow as pa

        schema = _arrow_partial_schema()

        def split(batches):
            # int32-offset safety: slice any batch whose postings bytes
            # approach 2 GiB (head-term rows) into row windows
            for b in batches:
                nb = b.column("postings").nbytes
                if nb < (1 << 30) or b.num_rows == 1:
                    yield b
                    continue
                step = max(1, int(b.num_rows * (1 << 30) / nb))
                for i in range(0, b.num_rows, step):
                    yield b.slice(i, min(step, b.num_rows - i))

        for b in split(batches):
            if b.num_rows == 0:
                continue
            n = b.num_rows
            units = b.column("unit").to_numpy(zero_copy_only=False).astype(np.int64)
            ub, inv = np.unique(units, return_inverse=True)
            base_row = np.array([bases[int(u)] for u in ub], dtype=np.int64)[inv]

            def bin_parts(arr):
                o = np.frombuffer(arr.buffers()[1], dtype=np.int32)
                o = o[arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
                buf = arr.buffers()[2]
                data = (
                    np.frombuffer(buf, dtype=np.uint8)
                    if buf is not None
                    else np.zeros(0, dtype=np.uint8)
                )
                return o - o[0], data[o[0] : o[-1]]

            def list_parts(arr):
                o = np.frombuffer(arr.buffers()[1], dtype=np.int32)
                o = o[arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
                vals = arr.values.slice(int(o[0]), int(o[-1] - o[0]))
                return o - o[0], vals.to_numpy(zero_copy_only=False)

            post_o, post_d = bin_parts(b.column("postings"))
            # first varint of every list: absolute first ordinal + length
            v0, fl = codecs.read_first_varints(post_d, post_o[:-1])
            new_first = v0 + base_row.view(np.uint64)
            nf_blob, nf_len = codecs.varbyte_encode(new_first)
            nf_dat = np.frombuffer(nf_blob, dtype=np.uint8)
            nf_off = np.zeros(n, dtype=np.int64)
            np.cumsum(nf_len[:-1].astype(np.int64), out=nf_off[1:])
            nf_len = nf_len.astype(np.int64)
            tail_len = (post_o[1:] - post_o[:-1]) - fl
            out_off = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(nf_len + tail_len, out=out_off[1:])
            out = np.empty(int(out_off[-1]), dtype=np.uint8)
            codecs.ragged_copy(out, out_off[:-1], nf_dat, nf_off, nf_len)
            codecs.ragged_copy(
                out, out_off[:-1] + nf_len, post_d, post_o[:-1] + fl, tail_len
            )

            blk_o, bld = list_parts(b.column("block_last_doc"))
            counts = blk_o[1:] - blk_o[:-1]
            bld_new = bld.astype(np.int64) + np.repeat(base_row, counts)
            _, boff = list_parts(b.column("block_offset"))
            delta = nf_len - fl
            boff_new = boff.astype(np.int64) + np.repeat(delta, counts)
            starts = blk_o[:-1][counts > 0]
            boff_new[starts] = 0  # first block offset is always 0

            _, bmt = list_parts(b.column("block_max_tf"))
            _, bmd = list_parts(b.column("block_min_dl"))
            pos_arr = b.column("positions")

            arrays = [
                b.column("term"),
                b.column("salt"),
                b.column("df"),
                b.column("cf"),
                pa.array((new_first).view(np.int64)),
                _list_from_flat(blk_o, pa.array(bld_new, type=pa.int64()), None),
                _list_from_flat(
                    blk_o, pa.array(bmt.astype(np.int32), type=pa.int32()), None
                ),
                _list_from_flat(
                    blk_o, pa.array(bmd.astype(np.int32), type=pa.int32()), None
                ),
                _list_from_flat(blk_o, pa.array(boff_new, type=pa.int64()), None),
                _binary_from_flat(out, out_off),
                pos_arr,
            ]
            yield pa.RecordBatch.from_arrays(arrays, schema=schema)

    return fn


class SaltPlan(dict):
    """term -> salt fanout, plus ``est_postings``: the sample's estimate of
    total (term, doc) pairs in the planned source (scaled back up). The
    estimate prices the partials shuffle (see _seg_shuffle_width) — it is
    sizing metadata only, never a correctness input."""

    est_postings: int | None = None


def plan_salts(
    ded: DataFrame,
    sample_fraction: float,
    salt_target: int,
    max_fanout: int,
    seed: int = 7,
    extra_scale: float = 1.0,
) -> "SaltPlan":
    """Estimate head-term doc frequencies from a doc sample and assign each
    an explicit salt fan-out so no (term, salt) group exceeds ~salt_target
    postings. Zipf tail terms get fanout 1 (no extra shuffle width).

    ``extra_scale``: sample-to-corpus factor beyond the row fraction (the
    file-subset path of plan_salts_source samples a fraction of the FILES
    too; without it both the fanouts and the postings estimate would be
    low by that factor).

    The reference precedent is choosing the Kafka partition-key strategy to
    control skew (pkg/wal/processor/kafka/config.go:21-39); here the 'key
    strategy' is computed per term from data."""
    if sample_fraction >= 1.0:
        sample = ded
        scale = float(extra_scale)
    else:
        sample = ded.sample(fraction=sample_fraction, seed=seed)
        scale = float(extra_scale) / sample_fraction
        # row-level sampling leaves every input partition ~fraction full;
        # coalesce merges most of that emptiness back so the tokenize tasks
        # of this pass carry roughly un-sampled-sized row counts instead of
        # P nearly-empty Python workers. The target derives from the
        # sampling fraction (x4 headroom), not the local core count, so it
        # scales with the build width on any cluster. Measured 2-3x on the
        # salt pass at 200k docs / 128 partitions.
        try:
            p = sample.rdd.getNumPartitions()
        except Exception:  # noqa: BLE001 — sizing hint only
            p = 0
        target = max(8, math.ceil(p * sample_fraction * 4))
        if p > target:
            sample = sample.coalesce(target)
    obs = Observation()
    head = (
        sample.mapInPandas(explode_token_counts_fn, schema=EXPLODED_SCHEMA)
        .observe(obs, F.count(F.lit(1)).alias("rows"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") * scale > salt_target)
        .collect()
    )
    plan = SaltPlan()
    for r in head:
        fanout = min(max_fanout, int(math.ceil(r["cnt"] * scale / salt_target)))
        if fanout > 1:
            plan[r["term"]] = fanout
    try:
        rows = obs.get["rows"]
    except Exception:  # noqa: BLE001 — sizing hint only: tiny/local-
        # relation sources can execute the sample as a driver-local
        # collect where the observation never registers; the shuffle
        # width then falls back to the full build width
        rows = None
    plan.est_postings = int(rows * scale) if rows else None
    return plan


def bare_scan_files(source: DataFrame) -> list[str]:
    """The source's parquet files IFF it is a BARE file scan, else [].

    Public-API check (no private Spark internals — ``DataFrame.explain``
    and ``inputFiles`` only): the ANALYZED logical plan must be a single
    parquet Relation node. Any filter, projection, or derived column adds
    a plan node above it, so file-subset sampling can never silently drop
    a transformation layered on the DataFrame. (``sameSemantics`` against
    a fresh scan was tried first but file relations canonicalize by
    identity, so two reads of the same directory compare unequal.)"""
    import contextlib
    import io

    try:
        files = [f for f in source.inputFiles() if ".parquet" in f]
        if not files:
            return []
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            source.explain(mode="extended")
        sec = (
            buf.getvalue()
            .split("== Analyzed Logical Plan ==")[1]
            .split("== Optimized Logical Plan ==")[0]
        )
        # line 0 is the output schema; a bare scan has exactly ONE plan line
        plan = [l for l in sec.strip().splitlines() if l.strip()][1:]
        ok = len(plan) == 1 and plan[0].startswith("Relation") and "parquet" in plan[0]
        return files if ok else []
    except Exception:  # noqa: BLE001 — non-file sources sample in full
        return []


def plan_salts_source(
    source: DataFrame | object,
    num_units: int,
    sample_fraction: float,
    salt_target: int,
    max_fanout: int,
    seed: int = 7,
) -> dict[str, int]:
    """ONE salt plan per build (not per unit) from a window-free sample.

    For a webtext DataFrame the sample skips the LWW dedup window entirely
    (recrawl duplicates only inflate head-term counts, which is harmless
    for a fanout heuristic); for a provider callable it samples the full
    provider output. The per-unit group-size target is salt_target, so the
    global plan targets salt_target * num_units postings per term."""
    if callable(source):
        ded = source(0, 1)
        frac = sample_fraction
    else:
        html_col = (
            F.col("html") if "html" in source.columns else F.lit(None).cast("binary")
        )
        sampled = source
        frac = sample_fraction
        # a row-level sample still SCANS (and decompresses) every input
        # file; for multi-file sources read a random file SUBSET instead and
        # sample within it — head-of-Zipf terms appear in every file, so a
        # few files estimate fanouts as well as the full scan at a fraction
        # of the I/O (the scan cost of this pass is otherwise a per-corpus
        # serial-ish overhead that erodes scaling efficiency).
        # Gated on the source being a BARE file scan: re-reading inputFiles()
        # silently drops any filters/projections layered on the DataFrame
        # (and derived columns would read as null), so anything beyond a
        # plain relation falls back to row-level sampling of the source.
        files = bare_scan_files(source)
        if len(files) >= 8 and 0 < sample_fraction < 1.0:
            import random as _random

            take = max(2, int(math.ceil(len(files) * 0.1)))
            rng = _random.Random(seed)
            subset = rng.sample(sorted(files), take)  # sorted: deterministic plan
            sampled = source.sparkSession.read.schema(source.schema).parquet(*subset)
            # keep the SAME expected sample size: scale the row fraction up
            # by the inverse file fraction (capped at 1.0); the file
            # fraction itself goes to plan_salts as extra_scale so counts
            # scale back to CORPUS totals (without it fanouts and the
            # postings estimate read low by files/take)
            frac = min(1.0, sample_fraction * len(files) / take)
            extra = len(files) / take
        else:
            extra = 1.0
        ded = sampled.select(
            F.xxhash64("url").alias("doc_id"), html_col.alias("html"), "text"
        )
        return plan_salts(
            ded, frac, salt_target * max(1, num_units), max_fanout, seed,
            extra_scale=extra,
        )
    return plan_salts(
        ded, frac, salt_target * max(1, num_units), max_fanout, seed
    )


def webtext_unit_provider(webtext_df: DataFrame):
    """Unit provider for the (url, warc_ts, html, text, lang) input shape.

    The unit predicate is on url (the doc identity source), so Catalyst
    pushes it straight into the scan — each unit job reads only its slice
    of the input."""

    def provider(unit: int, num_units: int) -> DataFrame:
        unit_df = webtext_df.filter(
            F.pmod(F.xxhash64(F.col("url")), F.lit(num_units)) == unit
        )
        return webtext_to_docs(unit_df)

    return provider


def docs_unit_provider(docs_df: DataFrame, id_col: str = "doc_id", text_col: str = "text"):
    """Unit provider for already-identified corpora (e.g. a documents table
    with a native doc_id). No extraction — text is normalized inside the
    tokenize stage; version is constant (no recrawls in such tables)."""

    def provider(unit: int, num_units: int) -> DataFrame:
        return docs_df.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_units)) == unit
        ).select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.lit(None).cast("string").alias("url"),
            F.col(text_col).alias("text"),
            F.lit(0).alias("version"),
        )

    return provider


def build_unit(
    spark: SparkSession,
    docs_provider,
    index_dir: str,
    unit: int,
    num_units: int,
    partitions: int,
    input_snapshot_id: int = 0,
    salt_target: int = 100_000,
    sample_fraction: float = 0.02,
    max_fanout: int = 64,
    salt_plan: dict[str, int] | None = None,
    max_term_bytes: int | None = 32766,
    max_id_bytes: int | None = 512,
    with_positions: bool = False,
    quarantine_max_docs: int = 100,
    quarantine_max_frac: float = 0.01,
) -> dict:
    """Build one work unit end-to-end and commit its manifest row.

    ``salt_plan``: the per-build skew plan from plan_salts_source; when None
    (direct callers) one is computed from this unit's slice.
    ``with_positions``: also store per-posting token positions (enables
    phrase/proximity queries; ~Lucene DOCS_AND_FREQS_AND_POSITIONS vs the
    default DOCS_AND_FREQS — costs index bytes and build CPU)."""
    src = docs_provider(unit, num_units)
    html_col = F.col("html") if "html" in src.columns else F.lit(None).cast("binary")
    version_col = F.col("version") if "version" in src.columns else F.lit(0)
    # html is only consumed when text is NULL — prune it to NULL otherwise,
    # BEFORE the shuffle: on web corpora this halves the bytes through the
    # exchange, the in-partition sort, and the Arrow transfer to Python.
    ded = src.select(
        "doc_id",
        "url",
        F.when(F.col("text").isNotNull(), F.lit(None).cast("binary"))
        .otherwise(html_col)
        .alias("html"),
        "text",
        version_col.alias("version"),
    )
    if max_id_bytes is not None:
        # doc-identity oversize guard (search_store.go:137-143: IDs > 512 B
        # are skipped): drop the doc, account it below via row-count delta.
        ded = ded.filter(
            F.col("url").isNull() | (F.octet_length("url") <= max_id_bytes)
        )
    if salt_plan is None:
        # plan computed from THIS unit's slice — its estimate is already
        # unit-scoped (the shared plan from plan_salts_source is corpus-
        # wide and divides by num_units below)
        salt_plan = plan_salts(ded, sample_fraction, salt_target, max_fanout)
        unit_est = getattr(salt_plan, "est_postings", None)
    else:
        g = getattr(salt_plan, "est_postings", None)
        unit_est = g / max(1, num_units) if g else None
    # Hash-stripe the docs and sort within partitions by (stripe, doc hash,
    # doc_id, version DESC, ...): the ONE data shuffle of the build. The
    # stripe (top bits of xxhash64(doc_id), a pure function of the id — see
    # ORD_SHIFT comment) replaces round-2's repartitionByRange: no range-
    # boundary sampling pass, deterministic doc -> ordinal assignment
    # across resumes/rebuilds, and hash-uniform balance for any id
    # distribution. The sorted stream gives the tokenize stage (a)
    # streaming last-writer-wins dedup for free (keep first row per doc_id
    # — LSN-as-version semantics, deterministic fixed-width tie-break keys
    # instead of comparing raw blobs), and (b) the splice-merge invariant:
    # every task owns whole stripes, so its partials cover disjoint,
    # ordered ordinal ranges and segment merge never decodes postings.
    n_stripes = _stripes_for(partitions)
    shift_bits = 64 - int(math.log2(n_stripes))
    ukey = F.xxhash64("doc_id").bitwiseXOR(F.lit(-(1 << 63)))
    ded = (
        ded.withColumn("stripe", F.shiftrightunsigned(ukey, shift_bits))
        .repartition(partitions, "stripe")
        .sortWithinPartitions(
            F.asc("stripe"),
            F.asc(F.xxhash64("doc_id")),
            F.asc("doc_id"),
            F.desc("version"),
            F.desc(F.col("text").isNotNull()),
            F.desc(F.xxhash64("text")),
            F.desc(F.xxhash64("html")),
        )
    )
    # ONE tokenize pass; persist its (compressed) output — partial posting
    # blobs + int doc rows — instead of the raw corpus slice. Both the docs
    # write and the segment shuffle read from this cache, so text is
    # extracted and tokenized exactly once per document.
    combined = ded.mapInArrow(
        make_tokenize_fn(salt_plan, max_fanout, max_term_bytes, with_positions),
        schema=COMBINED_SCHEMA,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        import time as _time

        phases: dict[str, float] = {}
        _t0 = _time.time()
        partials = combined.filter(F.col("kind") == 1).select(
            "term", "salt", "df", "cf", "first_doc",
            "block_last_doc", "block_max_tf", "block_min_dl", "block_offset",
            "postings", "positions",
        )
        seg_obs = Observation()
        # Map-side combine: only compressed partial lists cross this shuffle
        # (~2.3 B/posting vs ~14+ B/posting raw rows), and JVM<->Arrow row
        # counts are O(distinct terms), not O(postings). Hash repartition
        # (no range-sampler pass); sortWithinPartitions keeps every output
        # FILE term-sorted so parquet row-group min/max stats stay selective
        # for the query-time term IN (...) pushdown; first_doc in the sort
        # key is the splice order. The SEGMENTS job runs FIRST: its
        # `partitions`-wide shuffle-map stage is what populates the
        # tokenize cache, so the docs job below can coalesce its output to
        # few, larger files without serializing the tokenize itself.
        seg_parts = int(os.environ.get("PGSPARK_SEG_SHUFFLE_PARTS", "0")) or \
            _seg_shuffle_width(unit_est, partitions)
        segments = (
            partials.repartition(seg_parts, "term", "salt")
            .sortWithinPartitions("term", "salt", "first_doc")
            .mapInArrow(_splice_merge_fn, schema=SEG_SCHEMA)
            .observe(
                seg_obs,
                F.count(F.lit(1)).alias("term_rows"),
                F.sum(F.length("postings")).alias("bytes"),
            )
        )
        # bounded parquet row groups keep the query-time term IN (...) read
        # selective INSIDE a file (guide §6): files are term-sorted, so
        # each ~1 MB row group (_SEG_ROWGROUP_BYTES) spans a narrow term
        # range and min/max stats prune the rest — essential once
        # bytes-adaptive widths produce multi-GB segment files at real
        # scale (the default 128 MB groups would make every term lookup
        # decompress 128 MB)
        segments.write.mode("overwrite").option(
            "parquet.block.size", str(_SEG_ROWGROUP_BYTES)
        ).parquet(
            os.path.join(segments_path(index_dir), f"unit={unit}")
        )
        phases["tokenize_segments"] = round(_time.time() - _t0, 2)

        _t0 = _time.time()
        # docs job: cache read only. The observation sits on `combined`
        # (above the kind filter) so the kind==2/3 accounting rows are
        # tallied in the same action; output coalesced to ~1/16th of the
        # build width (docs rows are ~40 B/doc vs ~hundreds of postings
        # bytes/doc, so file sizing follows the same target as segments —
        # guide §6: fewer, larger files; 128 x 100 KB sidecar files cost
        # every reader 128 footers).
        docs_obs = Observation()
        docs_out = (
            combined.observe(
                docs_obs,
                F.count(F.when(F.col("kind") == 0, 1)).alias("n"),
                F.sum(F.when(F.col("kind") == 0, F.col("doclen"))).alias("sum_dl"),
                F.sum(F.when(F.col("kind") == 2, F.col("df"))).alias("dropped"),
                F.count(F.when(F.col("kind") == 3, 1)).alias("quarantined"),
            )
            .filter(F.col("kind") == 0)
            .select("ord", "doc_id", "url", "doclen")
        )
        doc_parts = max(1, partitions // 16)
        if doc_parts < partitions:
            docs_out = docs_out.coalesce(doc_parts)
        docs_out.write.mode("overwrite").parquet(
            os.path.join(docs_path(index_dir), f"unit={unit}")
        )
        phases["docs"] = round(_time.time() - _t0, 2)
        dropped_terms = docs_obs.get["dropped"] or 0
        quarantined = int(docs_obs.get["quarantined"] or 0)
        if quarantined:
            # poison-doc quarantine (per-doc retry granularity,
            # search_store_retrier.go:94-150): the failed docs are dropped
            # from the index but ACCOUNTED — ids + errors land in a
            # failed-docs sidecar and the manifest row; the unit itself
            # commits, so resume never re-fails on data poison.
            combined.filter(F.col("kind") == 3).select(
                F.col("doc_id"), F.col("url").alias("error")
            ).write.mode("overwrite").parquet(
                os.path.join(quarantine_path(index_dir), f"unit={unit}")
            )
            print(
                f"DATALOSS unit={unit}: {quarantined} poison doc(s) "
                f"quarantined (see quarantine/unit={unit})"
            )
            # volume guard: per-doc quarantine is for SCATTERED data
            # poison; a systematic failure (every doc failing) must fail
            # the unit, not silently drop the corpus (the ADVICE-flagged
            # unbounded-data-loss mode). Threshold = max(absolute floor,
            # fraction of the unit's rows).
            n_rows = int(docs_obs.get["n"])
            limit = max(
                int(quarantine_max_docs),
                int(quarantine_max_frac * (n_rows + quarantined)),
            )
            if quarantined > limit:
                raise RuntimeError(
                    f"unit {unit}: {quarantined} quarantined docs exceed the "
                    f"threshold {limit} (quarantine_max_docs="
                    f"{quarantine_max_docs}, quarantine_max_frac="
                    f"{quarantine_max_frac} of {n_rows + quarantined} rows) — "
                    "failing the unit instead of committing systematic data "
                    "loss; see quarantine sidecar for per-doc errors"
                )
        row = {
            "phase_secs": phases,  # diagnostics only (not a manifest field)
            "segment_id": f"u{unit}",
            "unit": unit,
            "ord_partitions": partitions,  # ordinal-space layout (ranged queries)
            "input_snapshot_id": input_snapshot_id,
            "row_count": int(docs_obs.get["n"]),
            "sum_doclen": int(docs_obs.get["sum_dl"] or 0),
            "term_count": int(seg_obs.get["term_rows"] or 0),
            "bytes": int(seg_obs.get["bytes"] or 0),
            "dropped_terms": int(dropped_terms),
            "quarantined_docs": quarantined,
            "status": manifest.STATUS_COMPLETED,
        }
        manifest.commit_unit(index_dir, row)
        return row
    finally:
        combined.unpersist()


def build_index(
    spark: SparkSession,
    source: DataFrame | object,
    index_dir: str,
    num_units: int = 4,
    partitions: int | None = None,
    resume: bool = True,
    input_snapshot_id: int = 0,
    salt_target: int = 100_000,
    sample_fraction: float = 0.02,
    max_fanout: int = 64,
    units: list[int] | None = None,
    ignore_unit_errors: bool = False,
    max_term_bytes: int | None = 32766,
    max_id_bytes: int | None = 512,
    with_positions: bool = False,
    quarantine_max_docs: int = 100,
    quarantine_max_frac: float = 0.01,
) -> dict:
    """Full (resumable) build. ``units`` limits work for tests/incremental.

    ``source`` is either a webtext DataFrame (url, warc_ts, html, text,
    lang) or a unit-provider callable (see *_unit_provider).

    Resume = set subtraction of requested work minus committed manifest rows
    (snapshot_generator_recorder.go:241-379's anti-join, driver-side here
    because the unit list is tiny; the data-scale anti-join lives in the
    incremental path). A failing unit is recorded in the manifest with
    status=failed + error (the recorder's failure ledger) and retried on
    the next resume; with ``ignore_unit_errors`` the build continues past
    it, DATALOSS-logged (the reference's ignore_send_errors knob,
    wal_batch_sender.go:281-283,353-367)."""
    from . import fields

    docs_provider = source if callable(source) else webtext_unit_provider(source)
    partitions = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    requested = list(range(num_units)) if units is None else list(units)
    todo = requested
    if resume:
        done = manifest.completed_units(index_dir, input_snapshot_id)
        todo = [u for u in requested if u not in done]
    # schema-first: the typed field mapping is committed BEFORE any data
    # segment (the reference creates the index mapping before bulk writes,
    # search_store.go:203-229) so every segment is readable under a known
    # schema version
    if todo and fields.read_mapping(index_dir) is None:
        src_df = source if not callable(source) else source(0, 1)
        fields.write_mapping(index_dir, fields.mapping_for(src_df))
    import time as _time

    _wall0 = _time.time()
    _t0 = _time.time()
    salt_plan = plan_salts_source(
        source, num_units, sample_fraction, salt_target, max_fanout
    ) if todo else {}
    salt_plan_sec = round(_time.time() - _t0, 2)

    def _one_unit(u: int) -> dict:
        return build_unit(
            spark,
            docs_provider,
            index_dir,
            u,
            num_units,
            partitions,
            input_snapshot_id,
            salt_target,
            sample_fraction,
            max_fanout,
            salt_plan=salt_plan,
            max_term_bytes=max_term_bytes,
            max_id_bytes=max_id_bytes,
            with_positions=with_positions,
            quarantine_max_docs=quarantine_max_docs,
            quarantine_max_frac=quarantine_max_frac,
        )

    # Units are independent jobs (own shuffles, own output dirs, own
    # manifest rows); Spark's FIFO scheduler happily overlaps them, so the
    # tail of one unit's stage back-fills with the next unit's tasks
    # instead of idling the cluster (guide §2.6 overlap-independent-jobs).
    # 2 in flight is the sweet spot: enough to fill stragglers, not enough
    # to double peak memory. Sequential path kept for one-unit builds.
    conc = max(1, int(os.environ.get("PGSPARK_BUILD_UNIT_CONCURRENCY", "2")))
    built, failed = [], []
    first_exc: Exception | None = None

    def _run_catching(u: int):
        nonlocal first_exc
        try:
            built.append(_one_unit(u))
        except Exception as exc:  # noqa: BLE001 — ledger + re-raise/skip
            manifest.commit_unit(
                index_dir,
                {
                    "segment_id": f"u{u}",
                    "unit": u,
                    "input_snapshot_id": input_snapshot_id,
                    "status": manifest.STATUS_FAILED,
                    "error": f"{type(exc).__name__}: {exc}"[:2000],
                },
            )
            if not ignore_unit_errors:
                if first_exc is None:
                    first_exc = exc
                return
            print(f"DATALOSS unit={u} skipped after error: {exc}")
            failed.append(u)

    with _aqe_disabled(spark):
        if conc > 1 and len(todo) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(conc, len(todo))) as pool:
                list(pool.map(_run_catching, todo))
        else:
            for u in todo:
                _run_catching(u)
                if first_exc is not None:
                    break
    if first_exc is not None:
        raise first_exc
    built.sort(key=lambda r: r["unit"])  # deterministic metrics/result order
    failed.sort()
    res = {
        "built_units": [r["unit"] for r in built],
        "skipped_units": [u for u in requested if u not in todo],
        "failed_units": failed,
        "salt_plan_sec": salt_plan_sec,
        "phase_secs": [r.get("phase_secs") for r in built],
    }
    from .metrics import write_metrics

    write_metrics(
        index_dir, "build",
        {
            **res,
            "wall_sec": round(_time.time() - _wall0, 3),
            "rows_indexed": sum(int(r["row_count"]) for r in built),
            "dropped_terms": sum(int(r.get("dropped_terms", 0)) for r in built),
            "quarantined_docs": sum(
                int(r.get("quarantined_docs", 0)) for r in built
            ),
            "postings_bytes": sum(int(r.get("bytes", 0)) for r in built),
        },
    )
    return res


def field_index_dir(index_root: str, field: str) -> str:
    """Field index layout of the single-pass multi-field build: each field
    is a complete, independently-queryable index under the shared root."""
    return os.path.join(index_root, f"field={field}")


def multifield_tokenize_input(
    docs_df: DataFrame,
    fields: dict,
    id_col: str,
    num_units: int,
    unit: int,
    partitions: int,
    version_col: str | None = None,
) -> DataFrame:
    """Unit-sliced, stripe-partitioned, dedup-sorted input for the
    multi-field tokenize stage. Exposed separately from
    ``build_index_multifield`` so plan evidence (tools/explain_plans.py)
    can render exactly the DataFrame the build executes: its physical
    plan MUST contain ONE scan of the corpus regardless of how many
    fields are indexed — the single-scan claim of the multi-field build."""
    fnames = sorted(fields)
    n_stripes = _stripes_for(partitions)
    shift_bits = 64 - int(math.log2(n_stripes))
    src = docs_df.filter(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_units)) == unit
    )
    fcols = [
        (F.col(c) if isinstance(c, str) else c).alias(f"__field_{f}")
        for f, c in fields.items()
    ]
    vcols = (
        [F.col(version_col).alias("__version")] if version_col is not None else []
    )
    ded = src.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.lit(None).cast("string").alias("url"),
        *vcols,
        *fcols,
    )
    ukey = F.xxhash64("doc_id").bitwiseXOR(F.lit(-(1 << 63)))
    # same one-data-shuffle plan as build_unit; with a version column the
    # dedup is true last-writer-wins (version DESC first — mirroring the
    # single-field build's LSN-as-version order, build_unit's sort); the
    # per-field content hashes stay as deterministic tie-breaks
    return (
        ded.withColumn("stripe", F.shiftrightunsigned(ukey, shift_bits))
        .repartition(partitions, "stripe")
        .sortWithinPartitions(
            F.asc("stripe"),
            F.asc(F.xxhash64("doc_id")),
            F.asc("doc_id"),
            *([F.desc("__version")] if version_col is not None else []),
            *[F.desc(F.xxhash64(f"__field_{f}")) for f in fnames],
        )
    )


def build_index_multifield(
    spark: SparkSession,
    docs_df: DataFrame,
    index_root: str,
    fields: dict,
    id_col: str = "doc_id",
    num_units: int = 1,
    partitions: int | None = None,
    resume: bool = True,
    input_snapshot_id: int = 0,
    salt_plans: dict[str, dict[str, int]] | None = None,
    max_fanout: int = 64,
    max_term_bytes: int | None = 32766,
    unit_base: int = 0,
    quarantine_max_docs: int = 100,
    quarantine_max_frac: float = 0.01,
    version_col: str | None = None,
    with_positions: bool = False,
) -> dict[str, str]:
    """SINGLE-PASS multi-field build: K scored text fields from ONE scan +
    ONE tokenize pass + ONE partials shuffle per unit — never K passes
    over the corpus.

    Reference shape: pgstream maps every column of a document into one
    search store with per-column typed mappings
    (/root/reference/pkg/wal/processor/search/store/search_pg_mapper.go:137-183);
    its users' multi-field queries hit one store. Here each field becomes
    a complete index under ``index_root/field=<name>/`` — the exact layout
    ``query.search_multifield`` consumes — but they are all built from one
    job: the tokenize stage runs once per input row, tokenizing every
    field column, with doc ordinals assigned ONCE and shared across fields
    (so the per-field docs sidecars agree on the ordinal space and differ
    only in doclen). At 100 TB this turns K corpus scans + K shuffles into
    1 + 1: the per-field splits below read the persisted (compressed,
    corpus-much-smaller) tokenize output, not the input table.

    ``fields``: field name -> text Column (or column name) derived from a
    source row, e.g. ``{"body": F.col("text"), "title": <headline expr>}``.
    ``with_positions`` records per-posting token positions in EVERY field
    (enables query.search_multifield_phrase — the multi_match type=phrase
    shape).
    ``unit_base`` offsets the committed unit ids (delta builds namespace
    their units as ``1_000_000 * snapshot + i`` exactly like the
    single-field ``incremental.build_delta``); the 0-based slice index
    still drives the pmod unit predicate.
    Returns {field: index_dir} ready for ``query.search_multifield``."""
    from . import merge as _merge

    partitions = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    fnames = sorted(fields)
    fdirs = {f: field_index_dir(index_root, f) for f in fnames}
    todo = list(range(num_units))
    if resume:
        # a unit counts as done only when EVERY field committed it
        done_sets = [
            manifest.completed_units(fdirs[f], input_snapshot_id) for f in fnames
        ]
        done = set.intersection(*done_sets) if done_sets else set()
        todo = [i for i in todo if unit_base + i not in done]

    for slice_i in todo:
        unit = unit_base + slice_i
        ded = multifield_tokenize_input(
            docs_df, fields, id_col, num_units, slice_i, partitions,
            version_col=version_col,
        )
        combined = ded.mapInArrow(
            make_tokenize_multifield_fn(
                fnames, salt_plans, max_fanout, max_term_bytes,
                with_positions=with_positions,
            ),
            schema=COMBINED_MF_SCHEMA,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            # ONE pass populates the cache and yields per-field doc stats
            stats_rows = (
                combined.groupBy("field", "kind")
                .agg(
                    F.count(F.when(F.col("kind") == 0, 1)).alias("n"),
                    F.sum(F.when(F.col("kind") == 0, F.col("doclen"))).alias("sum_dl"),
                    F.sum(F.when(F.col("kind") == 2, F.col("df"))).alias("dropped"),
                    F.count(F.when(F.col("kind") == 3, 1)).alias("quarantined"),
                )
                .collect()
            )
            docs_n = {f: 0 for f in fnames}
            docs_dl = {f: 0 for f in fnames}
            dropped = {f: 0 for f in fnames}
            quarantined = 0  # field-independent (doc dropped from ALL fields)
            for r in stats_rows:
                docs_n[r["field"]] += int(r["n"] or 0)
                docs_dl[r["field"]] += int(r["sum_dl"] or 0)
                dropped[r["field"]] += int(r["dropped"] or 0)
                quarantined += int(r["quarantined"] or 0)
            if quarantined:
                combined.filter(F.col("kind") == 3).select(
                    F.col("doc_id"), F.col("url").alias("error")
                ).write.mode("overwrite").parquet(
                    os.path.join(quarantine_path(index_root), f"unit={unit}")
                )
                print(
                    f"DATALOSS unit={unit}: {quarantined} poison doc(s) "
                    f"quarantined from all {len(fnames)} fields"
                )
                n_rows = docs_n[fnames[0]]
                limit = max(
                    int(quarantine_max_docs),
                    int(quarantine_max_frac * (n_rows + quarantined)),
                )
                if quarantined > limit:
                    raise RuntimeError(
                        f"unit {unit}: {quarantined} quarantined docs exceed "
                        f"the threshold {limit} — failing the unit instead of "
                        "committing systematic data loss"
                    )
            for f in fnames:
                combined.filter(
                    (F.col("kind") == 0) & (F.col("field") == f)
                ).select("ord", "doc_id", "url", "doclen").write.mode(
                    "overwrite"
                ).parquet(os.path.join(docs_path(fdirs[f]), f"unit={unit}"))

            partials = combined.filter(F.col("kind") == 1).select(
                "term", "salt", "df", "cf", "first_doc",
                "block_last_doc", "block_max_tf", "block_min_dl", "block_offset",
                "postings", "positions", "field",
            )
            seg = (
                partials.repartition(partitions, "field", "term", "salt")
                .sortWithinPartitions("field", "term", "salt", "first_doc")
                .mapInArrow(_splice_merge_fn, schema=SEG_MF_SCHEMA)
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            try:
                seg_rows = (
                    seg.groupBy("field")
                    .agg(
                        F.count(F.lit(1)).alias("terms"),
                        F.sum(F.length("postings")).alias("bytes"),
                    )
                    .collect()
                )
                seg_stats = {r["field"]: r for r in seg_rows}
                for f in fnames:
                    seg.filter(F.col("field") == f).drop("field").write.mode(
                        "overwrite"
                    ).parquet(os.path.join(segments_path(fdirs[f]), f"unit={unit}"))
                    st = seg_stats.get(f)
                    manifest.commit_unit(
                        fdirs[f],
                        {
                            "segment_id": f"u{unit}",
                            "unit": unit,
                            "ord_partitions": partitions,
                            "input_snapshot_id": input_snapshot_id,
                            "row_count": docs_n[f],
                            "sum_doclen": docs_dl[f],
                            "term_count": int(st["terms"]) if st else 0,
                            "bytes": int(st["bytes"] or 0) if st else 0,
                            "dropped_terms": dropped[f],
                            "quarantined_docs": quarantined,
                            "status": manifest.STATUS_COMPLETED,
                        },
                    )
            finally:
                seg.unpersist()
        finally:
            combined.unpersist()
    for f in fnames:
        _merge.merge_index(spark, fdirs[f])
    return fdirs
