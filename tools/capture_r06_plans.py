"""Round-6 plan evidence: .explain('formatted') before/after for every
query path the optimization round touched, into plans/r06/.

"before" = the distributed path exactly as round 5 ran it (driver tier
disabled via PGSPARK_QUERY_DRIVER_BYTES=0 — that code is unchanged);
"after" = the plan the same call produces with round-6 defaults (the
driver tier returns a LocalRelation: collect() is a LocalTableScan, no
Exchange, no Python eval, no job). The distributed fallback's plan is also
captured after the change to show it is untouched (the at-scale path).

Usage: python tools/capture_r06_plans.py
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pgspark_index import build, fixtures, merge, query  # noqa: E402
from pgspark_index.session import get_spark  # noqa: E402

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06")


def formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def dump(name: str, text: str) -> None:
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, name), "w") as f:
        f.write(text)
    print(f"wrote plans/r06/{name}")


def main():
    spark = get_spark(app="plans_r06", cores=4, shuffle_partitions=8)
    idx = tempfile.mkdtemp(prefix="plans_r06_idx_")
    df = fixtures.make_webtext_df(spark, 2000, seed=42, partitions=8)
    build.build_index(spark, df, idx, num_units=2, partitions=8,
                      sample_fraction=0.5)
    merge.merge_index(spark, idx)
    terms = ["w00000", "w00007"]
    qs = [{"query_id": i, "terms": [t], "k": 5}
          for i, t in enumerate(["w00000", "w00003"])]

    os.environ["PGSPARK_QUERY_DRIVER_BYTES"] = "0"
    dump("search_before.txt",
         "# search(): round-5 path (driver tier disabled) — groupBy(unit)"
         " applyInPandas + TakeOrderedAndProject, one Exchange\n\n"
         + formatted(query.search(spark, idx, terms, 10)))
    dump("search_batch_before.txt",
         "# search_batch(): round-5 path — window rank over per-unit"
         " emissions\n\n"
         + formatted(query.search_batch(spark, idx, qs)))
    dump("search_after_cursor_before.txt",
         "# search_after(): round-5 path\n\n"
         + formatted(query.search_after(spark, idx, terms, 5,
                                        after=(1e9, -1))))

    del os.environ["PGSPARK_QUERY_DRIVER_BYTES"]
    dump("search_after_tier.txt",
         "# search(): round-6 driver tier engaged (query under the byte"
         " gate) — LocalTableScan, zero Exchange, zero Python eval, no"
         " Spark job at collect()\n\n"
         + formatted(query.search(spark, idx, terms, 10)))
    dump("search_batch_after_tier.txt",
         "# search_batch(): round-6 driver tier engaged\n\n"
         + formatted(query.search_batch(spark, idx, qs)))
    dump("search_after_cursor_after_tier.txt",
         "# search_after(): round-6 driver tier engaged\n\n"
         + formatted(query.search_after(spark, idx, terms, 5,
                                        after=(1e9, -1))))

    # distributed fallback is UNCHANGED: same call over the byte gate
    os.environ["PGSPARK_QUERY_DRIVER_BYTES"] = "1"
    dump("search_after_distributed_fallback.txt",
         "# search(): round-6 distributed fallback (same call, gate"
         " exceeded) — identical plan shape to round 5: PushedFilters"
         " term IN, pruned ReadSchema, one Exchange, "
         "TakeOrderedAndProject\n\n"
         + formatted(query.search(spark, idx, terms, 10)))
    del os.environ["PGSPARK_QUERY_DRIVER_BYTES"]

    # distributed expansion tier (fuzzy prefix_length=0 / leading-*):
    # the mapInArrow-over-lexicon job that replaces the at-scale driver
    # stream. Reconstructed exactly as _expand_fuzzy_spark builds it so
    # the pre-collect plan is visible (the entry point collects top-N).
    import numpy as np
    import pyarrow as pa

    qbytes = "w00007".encode()

    def match_fn(batches):
        qb = np.frombuffer(qbytes, dtype=np.uint8)
        for b in batches:
            hits = query._fuzzy_batch_hits(b.column("term"), qb, 1, False)
            yield pa.record_batch(
                [pa.array(hits, type=pa.string())], names=["term"]
            )

    lex = spark.read.parquet(merge.lexicon_path(idx)).select("term")
    dump("expand_fuzzy_distributed_after.txt",
         "# expand_fuzzy(prefix_length=0) over a lexicon beyond "
         "PGSPARK_QUERY_DRIVER_BYTES: mapInArrow(numpy DP) over the "
         "lexicon scan + TakeOrderedAndProject(term) — round 5 streamed "
         "the whole lexicon through the driver at this setting\n\n"
         + formatted(
             lex.mapInArrow(match_fn, "term string").orderBy("term").limit(17)
         ))

    import shutil

    shutil.rmtree(idx, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
