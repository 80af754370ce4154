"""The benchmark's workloads: one closed-loop client driving the engine on
a ``local[4]`` session, checking every answer it times.

``serve``: a static merged index answering a mixed query stream,
``search_batch`` rounds and lang-filtered queries; then append-only deltas
and a fold of every unit. ``ingest``: a small base index taking recrawl
deltas (tombstones) with a query burst after each, then a fold that first
compacts. Both print the same end-to-end metrics; per-layer metrics come
from a separate run with ``--trace 1``. perfbench/DESIGN.md has the design.
"""

from __future__ import annotations

import datetime as dt
import os
import resource
import statistics
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import functions as F

from pgspark_index import (
    build, codecs, fixtures, incremental, merge, oracle, query, textnorm, wand,
)
from pgspark_index.extract import webtext_to_docs
from pgspark_index.metrics import read_metrics
from pgspark_index.session import get_spark

from spans import SparkCounter, Tracer

CORES = 4
PARTITIONS = 4
DRIVER_MEMORY = "2g"
K = 10
SETUP_REPEATS = 3
WARM_QUERIES = 20
# all timed; the first runs 25-70% slower than the rest, and the median
# drops it, so no untimed warm-up delta is spent
DELTAS = 5
TAIL_PCT = 90
MIN_STREAM = 100  # p90 needs >= 100 samples to leave 10 beyond it
FILTERED = 8  # serve's Spark-job queries, two of each kind but tail
FILTERED_WARMUP = 2
# queries after each delta and after the fold (4 of each kind), then one
# filtered query; ingest's filtered queries are spread over its bursts
BURST = 20
BATCH_ROUNDS = 40
ORACLE_SAMPLE = 40
FOLD_CHECKS = 20
BATCH_SIZE = 50
REPLAY_REPEATS = 5
TEXTNORM_SAMPLE = 1000
HEAD_TERMS = [f"w{i:05d}" for i in range(8)]

SHAPES = {
    # base docs, base units, new docs per delta, recrawled base urls per delta
    "serve": dict(docs=2000, units=2, delta_new=100, recrawls=0),
    "ingest": dict(docs=1000, units=1, delta_new=100, recrawls=20),
}


def sub_seed(seed: int, stream: int) -> int:
    """Seed for numpy's legacy ``RandomState`` (which takes 0 <= s < 2**32)
    derived from any integer run seed and a stream number, so every run
    seed, negative or past 32 bits, gives valid and distinct inputs."""
    return int(np.random.SeedSequence([seed % 2**64, stream]).generate_state(1)[0])


def _quantile(xs: list[float], pct: int) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[pct - 1]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def _marker_html(text: str | None) -> bytes | None:
    if text is None:
        return None
    return b"<html><body><p>" + text.encode() + b"</p></body></html>"


def _kind(terms: list[str]) -> str:
    if any(t.startswith("zz_absent") for t in terms):
        return "absent"
    if terms == ["w00000", "w00001"]:
        return "tie"
    if len(terms) > 1:
        return "multi"
    return "head" if int(terms[0][1:]) < 50 else "tail"


KINDS = ("head", "tail", "multi", "absent", "tie")


def make_queries(seed: int) -> list[dict]:
    """Seeded queries from ``fixtures.make_query_set`` (head, tail, 2-4 term,
    absent-term, tie-prone), interleaved one of each kind per cycle so every
    run, whatever its seed or length, times the same mix; every seventh query
    also gets a must-not term."""
    rng = np.random.RandomState(sub_seed(seed, 1))
    by_kind: dict[str, list] = {k: [] for k in KINDS}
    for q in fixtures.make_query_set(1000, seed=sub_seed(seed, 0)):
        by_kind[_kind(q["terms"])].append(q["terms"])
    out = []
    for cycle in zip(*(by_kind[k] for k in KINDS)):
        for terms in cycle:
            qid = len(out)
            ex = []
            if qid % 7 == 6:
                t = f"w{rng.randint(0, 200):05d}"
                ex = [] if t in terms else [t]
            out.append({"query_id": qid, "terms": terms, "k": K, "exclude": ex})
    return out


class Run:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 workdir: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.shape = SHAPES[workload]
        self.workdir = workdir
        self.tracer = Tracer() if trace else None
        self.counter: SparkCounter | None = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.lat: list[float] = []        # driver-tier search latencies, s
        self.filtered_lat: list[float] = []
        self.batch_s: list[float] = []  # search_batch round times
        self.batch_queries = 0
        self.delta_s: list[float] = []
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.search_spans: list[int] = []  # root span ids of timed searches
        self.delta_merge_s: list[float] = []  # merge_index inside each delta
        self.query_jobs: list[int] = []
        self.verb_counts: dict[str, list[dict]] = {}
        self.queries: list[dict] = []
        self.bursts = 0
        self.streamed = 0
        self.spark = None
        self._t0 = time.perf_counter()

    def log(self, phase: str) -> None:
        print(f"[{time.perf_counter() - self._t0:7.1f}s] {phase}",
              file=sys.stderr, flush=True)

    # ---- bookkeeping -------------------------------------------------------

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def timed(self, group: str, name: str, fn, tag: int = 0):
        """Run one engine call under its own job group -> (result, seconds,
        root span id). Spark counts are read outside the timed region."""

        def body():
            t0 = time.perf_counter()
            if self.tracer is not None:
                out, sid = self.tracer.call(name, fn, tag)
            else:
                out, sid = fn(), 0
            return out, time.perf_counter() - t0, sid

        if self.counter is None:
            self.spark.sparkContext.setJobGroup(group, group)
            return body()
        (out, secs, sid), counts = self.counter.run(
            group, body, detail=not group.startswith("query"))
        self.verb_counts.setdefault(group, []).append(counts)
        return out, secs, sid

    def search(self, idx: str, q: dict, filter_df=None) -> list[tuple[int, float]]:
        return [
            (int(r["doc_id"]), float(r["score"]))
            for r in query.search(
                self.spark, idx, q["terms"], q["k"],
                exclude_terms=q.get("exclude") or None, filter_df=filter_df,
            ).collect()
        ]

    def timed_search(self, idx: str, q: dict, filter_df=None):
        group = "query" if filter_df is None else "query_filtered"
        try:
            res, secs, sid = self.timed(
                group, "query.search", lambda: self.search(idx, q, filter_df),
                q["query_id"])
        except Exception as exc:  # noqa: BLE001 — a failed op is counted
            self.check(False, f"search {q['terms']}: {type(exc).__name__}: {exc}")
            return None
        if self.counter is not None:
            self.query_jobs.append(self.verb_counts[group][-1]["jobs"])
            if filter_df is None:
                self.search_spans.append(sid)
        (self.lat if filter_df is None else self.filtered_lat).append(secs)
        self.attempted += 1
        return res

    # ---- phases ------------------------------------------------------------

    def start(self) -> None:
        t0 = time.perf_counter()
        self.spark = get_spark(
            app=f"perfbench-{self.workload}", cores=CORES,
            shuffle_partitions=PARTITIONS, driver_memory=DRIVER_MEMORY,
        )
        session_s = time.perf_counter() - t0
        reps = []
        for rep in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            self.make_inputs()
            reps.append(time.perf_counter() - t0)
            if rep + 1 < SETUP_REPEATS:
                self.base_df.unpersist(blocking=True)
        self.e2e["setup_s"] = (session_s + statistics.median(reps), "s")
        self.make_deltas()
        if self.tracer is not None:
            self.counter = SparkCounter(self.spark)
            self.tracer.install(merge, incremental, wand, codecs)

    def make_inputs(self) -> None:
        """Base corpus, generated from the seed and persisted. Recrawl
        targets carry a ``zqold<j>`` marker in the base and a ``zqnew<s>j<j>``
        marker in their delta version (``make_deltas``); each delta also
        holds one new page with marker ``zqadd<s>``."""
        spark, sh, seed = self.spark, self.shape, self.seed
        pdf = fixtures.make_webtext_pdf(sh["docs"], seed=sub_seed(seed, 2))
        urls = np.array(sorted(set(pdf["url"])))
        rng = np.random.RandomState(sub_seed(seed, 3))
        n_targets = sh["recrawls"] * DELTAS
        targets = list(urls[rng.choice(len(urls), size=n_targets, replace=False)])
        old_marker = {u: f"zqold{j}" for j, u in enumerate(targets)}
        if targets:
            hit = pdf["url"].isin(old_marker)
            pdf.loc[hit, "text"] = [
                None if t is None else f"{t} {old_marker[u]}"
                for u, t in zip(pdf.loc[hit, "url"], pdf.loc[hit, "text"])
            ]
            pdf.loc[hit, "html"] = [
                None if h is None else h.replace(
                    b"</p>", f" {old_marker[u]}</p>".encode())
                for u, h in zip(pdf.loc[hit, "url"], pdf.loc[hit, "html"])
            ]
        self.base_pdf = pdf
        self.base_df = spark.createDataFrame(
            pdf, schema=fixtures.WEBTEXT_DDL).repartition(PARTITIONS).persist()
        self.base_df.count()
        self.targets, self.old_marker = targets, old_marker

    def make_deltas(self) -> None:
        spark, sh, seed = self.spark, self.shape, self.seed
        targets, old_marker = self.targets, self.old_marker
        rng = np.random.RandomState(sub_seed(seed, 4))
        late = fixtures.EPOCH + dt.timedelta(days=400)
        self.delta_pdfs, self.delta_dfs, self.delta_checks = [], [], []
        for s in range(1, DELTAS + 1):
            d = fixtures.make_webtext_pdf(sh["delta_new"],
                                          seed=sub_seed(seed, 100 + s))
            d["url"] = d["url"].str.replace(
                ".example/", f".example/s{seed}d{s}/", regex=False)
            d["warc_ts"] = d["warc_ts"] + dt.timedelta(days=200 + s)
            first = d["url"].iloc[0]
            add = f"zqadd{s}"
            d.loc[d["url"] == first, "text"] = f"{add} launch notes"
            d.loc[d["url"] == first, "html"] = _marker_html(f"{add} launch notes")
            rows, checks = [], [(add, first, None)]
            for j in range((s - 1) * sh["recrawls"], s * sh["recrawls"]):
                u = targets[j]
                new = f"zqnew{s}j{j}"
                text = f"{new} " + " ".join(
                    f"w{x:05d}" for x in rng.randint(0, 3000, size=40))
                rows.append({"url": u, "warc_ts": late + dt.timedelta(days=s),
                             "html": _marker_html(text), "text": text,
                             "lang": "en"})
                checks.append((new, u, old_marker[u]))
            if rows:
                d = pd.concat([d, pd.DataFrame(rows)], ignore_index=True)
            self.delta_pdfs.append(d)
            self.delta_dfs.append(
                spark.createDataFrame(d, schema=fixtures.WEBTEXT_DDL))
            self.delta_checks.append(checks)

    def prepare_checks(self) -> None:
        """doc ids (Spark's xxhash64 of the url) and the lang filter set."""
        spark = self.spark
        urls = sorted(set(pd.concat([self.base_pdf, *self.delta_pdfs])["url"]))
        ids = spark.createDataFrame(pd.DataFrame({"url": urls})).select(
            "url", F.xxhash64("url").alias("doc_id")).toPandas()
        self.doc_id = dict(zip(ids["url"], ids["doc_id"].astype("int64")))
        fdocs = webtext_to_docs(self.base_df.filter(F.col("lang") == "de"))
        self.filter_df = fdocs.select("doc_id").distinct().persist()
        self.filter_ids = set(
            int(x) for x in self.filter_df.toPandas()["doc_id"])
        self.queries = make_queries(self.seed)
        # single tail terms are often absent from the index, and a query
        # with no indexed term returns before any Spark job
        self.filtered_qs = [q for q in self.queries
                            if not q["exclude"] and _kind(q["terms"]) != "tail"]

    def build_base(self) -> str:
        idx = os.path.join(self.workdir, "index")
        res, build_s, _ = self.timed(
            "build", "build.build_index",
            lambda: build.build_index(
                self.spark, self.base_df, idx, num_units=self.shape["units"],
                partitions=PARTITIONS),
        )
        stats, merge_s, _ = self.timed(
            "merge", "merge.merge_index",
            lambda: merge.merge_index(self.spark, idx))
        self.check(stats["n_docs"] == len(set(self.base_pdf["url"])),
                   "base n_docs")
        self.e2e["index_ready_s"] = (build_s + merge_s, "s")
        self.e2e["build_docs_per_s"] = (stats["n_docs"] / build_s, "docs/s")
        self.layer["build.build_index_s"] = (build_s, "s")
        self.layer["build.salt_plan_s"] = (float(res["salt_plan_sec"]), "s")
        for key, name in (("tokenize_segments", "build.tokenize_segments_s"),
                          ("docs", "build.docs_s")):
            self.layer[name] = (
                float(sum(p.get(key, 0.0) for p in res["phase_secs"] if p)), "s")
        self.layer["merge.merge_index_s"] = (merge_s, "s")
        return idx

    def warm(self, idx: str) -> None:
        for q in self.queries[:WARM_QUERIES]:
            self.search(idx, q)

    def stream(self, idx: str, first: dict[int, list], seconds: float,
               min_total: int = 0) -> None:
        """Closed loop over the query list, going on where the previous
        chunk stopped, for ``seconds`` and until ``min_total`` stream
        queries have run; the first result of each query goes to ``first``."""
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or self.streamed < min_total:
            q = self.queries[self.streamed % len(self.queries)]
            res = self.timed_search(idx, q)
            if res is not None:
                first.setdefault(q["query_id"], res)
            self.streamed += 1

    def oracle_stats(self, pdfs: list[pd.DataFrame]) -> None:
        """Brute-force oracle over the live corpus of ``pdfs``: the latest
        version of each url wins, as in the engine's build."""
        pdf = pd.concat(pdfs, ignore_index=True)
        pdf["norm_text"] = [
            textnorm.extract_text(h, t) for h, t in zip(pdf["html"], pdf["text"])
        ]
        pdf["has_text"] = ~pdf["text"].isna()
        pdf = (pdf.sort_values(["url", "warc_ts", "has_text"], kind="mergesort")
               .groupby("url", as_index=False).last())
        pdf["doc_id"] = pdf["url"].map(self.doc_id)
        self.ostats = oracle.build_stats(pdf[["doc_id", "norm_text"]])

    def check_oracle(self, first: dict[int, list]) -> None:
        """Rank-for-rank equality with the brute-force oracle on a fixed
        sample (the first ORACLE_SAMPLE queries)."""
        self.oracle_stats([self.base_pdf])
        for q in self.queries[:ORACLE_SAMPLE]:
            got = first.get(q["query_id"])
            self.check(got == self.oracle_topk(q),
                       f"oracle mismatch {q['terms']} -{q['exclude']}")

    def oracle_topk(self, q: dict, keep: set | None = None) -> list:
        st = self.ostats
        bad = set()
        for t in q["exclude"]:
            bad |= st["tf"].get(t, {}).keys()
        ranked = oracle.score_query(st, q["terms"], k=st["N"])
        out = [(d, s) for _, d, s in ranked
               if d not in bad and (keep is None or d in keep)]
        return out[: q["k"]]

    def batch(self, idx: str, first: dict[int, list]) -> None:
        """``search_batch`` rounds; each must equal per-query ``search``."""
        qs = [q for q in self.queries if not q["exclude"]][:BATCH_SIZE]
        want = {q["query_id"]: first.get(q["query_id"]) for q in qs}
        for q in qs:
            if want[q["query_id"]] is None:
                want[q["query_id"]] = self.search(idx, q)

        def run():
            rows = query.search_batch(self.spark, idx, qs).collect()
            got: dict[int, list] = {q["query_id"]: [] for q in qs}
            for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
                got[int(r["query_id"])].append(
                    (int(r["doc_id"]), float(r["score"])))
            return got

        self.check(run() == want, "search_batch warm-up != search")
        for _ in range(BATCH_ROUNDS):
            got, s, _ = self.timed("batch", "query.search_batch", run)
            self.check(got == want, "search_batch != search")
            self.batch_s.append(s)
        self.batch_queries = len(qs)

    def filtered_warmup(self, idx: str) -> None:
        """Untimed: the first filtered jobs of a process run up to 50%
        slower than later ones."""
        for q in self.filtered_qs[-FILTERED_WARMUP:]:
            self.search(idx, q, self.filter_df)

    def filtered(self, idx: str, qs: list[dict], with_oracle: bool) -> None:
        for q in qs:
            res = self.timed_search(idx, q, self.filter_df)
            if res is None:
                continue
            self.check(all(d in self.filter_ids for d, _ in res),
                       f"filtered result outside filter {q['terms']}")
            if with_oracle:
                self.check(res == self.oracle_topk(q, self.filter_ids),
                           f"filtered oracle mismatch {q['terms']}")

    def deltas(self, idx: str, bursts: bool) -> None:
        """DELTAS snapshots; after each: the new text is found, the
        superseded version is not, tombstones match the recrawl count."""
        tombs = 0
        for s, (ddf, checks) in enumerate(
                zip(self.delta_dfs, self.delta_checks), start=1):
            res, secs, sid = self.timed(
                "delta", "incremental.build_delta",
                lambda: incremental.build_delta(
                    self.spark, ddf, idx, input_snapshot_id=s,
                    partitions=PARTITIONS),
            )
            self.delta_s.append(secs)
            self.delta_merge_s.append(self.nested(sid, "merge.merge_index"))
            n_re = sum(1 for _, _, old in checks if old is not None)
            self.check(res["tombstones"] == n_re,
                       f"delta {s}: {res['tombstones']} tombstones != {n_re}")
            tombs += res["tombstones"]
            for new, url, old in checks[:2]:
                hit = self.search(idx, {"terms": [new], "k": K})
                self.check([d for d, _ in hit] == [self.doc_id[url]],
                           f"delta {s}: {new} not found")
                if old is not None:
                    self.check(self.search(idx, {"terms": [old], "k": K}) == [],
                               f"delta {s}: superseded {old} returned")
            if bursts:
                self.burst(idx)
        self.layer["incremental.tombstones"] = (float(tombs), "count")

    def burst(self, idx: str) -> None:
        """The next BURST queries of the stream, then the next filtered
        query: every burst of a run asks different queries, so no few hard
        or easy ones set the median."""
        b = self.bursts
        for q in self.queries[b * BURST:(b + 1) * BURST]:
            self.timed_search(idx, q)
        self.filtered(idx, self.filtered_qs[b:b + 1], with_oracle=False)
        self.bursts += 1

    def fold(self, idx: str) -> None:
        """Fold every unit into one. ``merge_units`` first compacts pending
        tombstones (``ingest``), which makes every df exact, so there the
        check queries must equal the oracle over the live corpus; without
        tombstones (``serve``) they must equal the pre-fold results, which
        ``merge_units`` promises."""
        checks = self.queries[:FOLD_CHECKS]
        tombstoned = self.shape["recrawls"] > 0
        want = [] if tombstoned else [self.search(idx, q) for q in checks]
        res, fold_s, sid = self.timed(
            "fold", "incremental.merge_units",
            lambda: incremental.merge_units(self.spark, idx,
                                            partitions=PARTITIONS))
        self.check(len(res["folded_units"]) > 1, "fold folded < 2 units")
        if tombstoned:
            self.oracle_stats([self.base_pdf, *self.delta_pdfs])
            want = [self.oracle_topk(q) for q in checks]
        for q, w in zip(checks, want):
            self.check(self.search(idx, q) == w,
                       f"fold: wrong results for {q['terms']}")
        rec = [r for r in read_metrics(idx) if r.get("verb") == "merge-units"]
        self.e2e["fold_s"] = (fold_s, "s")
        self.layer["incremental.merge_units_s"] = (fold_s, "s")
        self.layer["incremental.compact_s"] = (
            self.nested(sid, "incremental.compact"), "s")
        self.layer["incremental.fold_rewrite_mb"] = (
            rec[-1]["postings_bytes"] / 1e6 if rec else 0.0, "MB")

    def nested(self, root: int, name: str) -> float:
        """Seconds spent in spans ``name`` under traced call ``root``."""
        if self.tracer is None:
            return 0.0
        return sum(sp[5] - sp[4] for sp in self.tracer.spans
                   if sp[2] == root and sp[3] == name)

    # ---- replay probes (traced run) ----------------------------------------

    def replay(self, idx: str) -> None:
        """Deterministic re-runs of one layer's kernel over this workload's
        own data: ``codecs.decode_postings`` over the index's head-term
        blobs, ``textnorm.batch_token_stream_arrow`` over a corpus sample."""
        decode = getattr(codecs.decode_postings, "__wrapped__",
                         codecs.decode_postings)
        seg = ds.dataset(build.segments_path(idx), format="parquet",
                         partitioning="hive").to_table(
            columns=["postings", "df"],
            filter=ds.field("term").isin(HEAD_TERMS))
        blobs = list(zip(seg["postings"].to_pylist(), seg["df"].to_pylist()))
        postings = sum(df for _, df in blobs)
        runs = []
        for _ in range(REPLAY_REPEATS):
            t0 = time.perf_counter()
            for blob, df in blobs:
                decode(blob, df)
            runs.append(time.perf_counter() - t0)
        self.layer["codecs.replay_ns_per_posting"] = (
            statistics.median(runs) * 1e9 / max(1, postings), "ns")

        sample = self.base_pdf.iloc[:TEXTNORM_SAMPLE]
        html = pa.array(sample["html"].tolist(), type=pa.binary())
        text = pa.array(sample["text"].tolist(), type=pa.string())
        nbytes = sum(
            len(t.encode()) if t is not None else len(h or b"")
            for t, h in zip(sample["text"], sample["html"]))
        runs = []
        for _ in range(REPLAY_REPEATS):
            t0 = time.perf_counter()
            textnorm.batch_token_stream_arrow(html, text)
            runs.append(time.perf_counter() - t0)
        self.layer["textnorm.replay_mb_per_s"] = (
            nbytes / 1e6 / statistics.median(runs), "MB/s")

    def overhead(self, idx: str) -> None:
        """Tracing overhead: p50 of the same queries untraced, then traced."""
        qs = self.queries[:60]
        untraced = []
        self.tracer.uninstall()
        for q in qs:
            t0 = time.perf_counter()
            self.search(idx, q)
            untraced.append(time.perf_counter() - t0)
        self.tracer.install(merge, incremental, wand, codecs)
        traced = []
        for q in qs:
            t0 = time.perf_counter()
            self.tracer.call("probe.search", lambda: self.search(idx, q))
            traced.append(time.perf_counter() - t0)
        self.layer["trace.overhead_ms"] = (
            (statistics.median(traced) - statistics.median(untraced)) * 1e3,
            "ms")

    # ---- metrics -------------------------------------------------------------

    def finish(self, idx: str) -> None:
        for name, xs in (("delta_s", self.delta_s),
                         ("batch_s", self.batch_s),
                         ("filtered_s", self.filtered_lat)):
            self.log(f"{name}: " + " ".join(f"{x:.4g}" for x in xs))
        stats = merge.load_stats(idx)
        self.e2e["delta_visible_s"] = (statistics.median(self.delta_s), "s")
        self.e2e["search_p50_ms"] = (statistics.median(self.lat) * 1e3, "ms")
        self.e2e["search_tail_ms"] = (_quantile(self.lat, TAIL_PCT) * 1e3, "ms")
        # rounds flip between two speeds in streaks, which moves a median
        # from one mode to the other; total work over total time does not
        self.e2e["batch_qps"] = (
            self.batch_queries * len(self.batch_s) / sum(self.batch_s), "1/s")
        self.e2e["filtered_p50_ms"] = (
            statistics.median(self.filtered_lat) * 1e3, "ms")
        self.e2e["index_bytes_per_doc"] = (
            _dir_bytes(idx) / stats["n_docs"], "B")
        self.e2e["driver_rss_mb"] = (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, "MB")
        if self.tracer is not None:
            self.layer_metrics()

    def layer_metrics(self) -> None:
        tr, vc, med = self.tracer, self.verb_counts, statistics.median
        b, m = vc["build"][0], vc["merge"][0]
        self.layer["build.spark_jobs"] = (float(b["jobs"]), "count")
        self.layer["build.spark_stages"] = (float(b["stages"]), "count")
        self.layer["build.spark_tasks"] = (float(b["tasks"]), "count")
        self.layer["build.shuffle_write_mb"] = (b["shuffle_write_bytes"] / 1e6, "MB")
        self.layer["merge.spark_jobs"] = (float(m["jobs"]), "count")
        self.layer["incremental.delta_build_s"] = (
            med(t - n for t, n in zip(self.delta_s, self.delta_merge_s)), "s")
        self.layer["incremental.delta_merge_s"] = (med(self.delta_merge_s), "s")
        self.layer["incremental.delta_spark_jobs"] = (
            float(med(c["jobs"] for c in vc["delta"])), "count")
        self.layer["incremental.fold_spark_jobs"] = (
            float(vc["fold"][0]["jobs"]), "count")

        by_q: dict[int, list] = {}
        for s in tr.spans:
            by_q.setdefault(s[2], []).append(s)
        totals = {layer: 0.0 for layer in ("query", "merge", "wand", "codecs")}
        postings = wand_calls = 0
        n = len(self.search_spans)
        for sid in self.search_spans:
            root = next(s for s in by_q[sid] if s[0] == sid)
            kids = [s for s in by_q[sid] if s[0] != sid]
            out, outside, extra = tr.attribute(root, kids)
            gap = abs(sum(out.values()) - (root[5] - root[4]))
            self.check(outside == 0 and gap < 1e-9,
                       f"layer times do not add up to search call {sid}")
            for layer, v in out.items():
                totals[layer] += v
            postings += extra["codecs_postings"]
            wand_calls += extra["wand_calls"]
        self.layer["query.self_ms"] = (totals["query"] * 1e3 / n, "ms")
        self.layer["merge.load_stats_ms"] = (totals["merge"] * 1e3 / n, "ms")
        self.layer["wand.score_ms"] = (totals["wand"] * 1e3 / n, "ms")
        self.layer["codecs.decode_ms"] = (totals["codecs"] * 1e3 / n, "ms")
        self.layer["wand.calls_per_query"] = (wand_calls / n, "count")
        self.layer["codecs.decoded_postings_per_query"] = (postings / n, "count")
        self.layer["codecs.ns_per_posting"] = (
            totals["codecs"] * 1e9 / postings if postings else 0.0, "ns")
        self.layer["query.driver_tier_share"] = (
            sum(1 for j in self.query_jobs if j == 0) / len(self.query_jobs),
            "share")
        self.layer["query.spark_jobs_per_query"] = (
            sum(self.query_jobs) / len(self.query_jobs), "count")

    # ---- the workloads -------------------------------------------------------

    def run(self) -> None:
        self.start()
        self.log("setup")
        self.prepare_checks()
        self.log("checks prepared")
        idx = self.build_base()
        self.log("build + merge")
        if self.tracer is not None:
            self.replay(idx)
        self.warm(idx)
        if self.workload == "serve":
            # the stream runs in three chunks, around the batch and the
            # filtered phases, so a short slow spell of the shared host
            # hits one chunk, not the whole sample
            first: dict[int, list] = {}
            chunk = self.seconds / 3
            self.stream(idx, first, chunk, ORACLE_SAMPLE)
            self.check_oracle(first)
            self.log(f"stream + oracle check ({len(self.lat)} queries)")
            self.batch(idx, first)
            self.stream(idx, first, chunk)
            self.log(f"batch + stream ({len(self.lat)} queries)")
            self.filtered_warmup(idx)
            self.filtered(idx, self.filtered_qs[:FILTERED], with_oracle=True)
            self.stream(idx, first, chunk, MIN_STREAM)
            self.log(f"filtered ({len(self.filtered_lat)} queries) + stream "
                     f"({len(self.lat)} queries)")
            self.deltas(idx, bursts=False)
            self.log("deltas")
            self.fold(idx)
            self.log("fold")
        else:
            self.filtered_warmup(idx)
            self.deltas(idx, bursts=True)
            self.log("deltas + bursts")
            self.fold(idx)
            self.burst(idx)
            self.log("fold + burst")
            self.batch(idx, {})
            self.log("batch")
        if self.tracer is not None:
            self.overhead(idx)
        self.finish(idx)
        self.log("done")

    def stop(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 — a hung JVM is killed
                    proc.kill()
                    proc.wait()
