"""Driver small-query tier (round-6 optimization): bit-exact parity with
the distributed path, and a gate that actually gates.

The tier runs a bounded-size query entirely on the driver (same pyarrow
term-IN segment read, same per-unit kernel, same merge order); everything
over PGSPARK_QUERY_DRIVER_BYTES takes the distributed path unchanged.
"""

import pandas as pd
import pytest

from pgspark_index import build, merge, query

DOCS = [
    "alpha beta gamma delta alpha",
    "beta beta gamma",
    "alpha epsilon zeta eta theta",
    "gamma delta delta",
    "alpha beta alpha beta gamma delta",
    "iota kappa alpha",
    "beta gamma delta epsilon",
    "unrelated words entirely here",
]


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tier") / "idx")
    pdf = pd.DataFrame({"doc_id": range(len(DOCS)), "text": DOCS})
    docs = spark.createDataFrame(pdf, "doc_id long, text string")
    build.build_index(
        spark, build.docs_unit_provider(docs), d, num_units=2, partitions=2
    )
    merge.merge_index(spark, d)
    return d


def _collect(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


@pytest.mark.parametrize(
    "kwargs",
    [
        {"terms": ["alpha", "gamma"]},
        {"terms": ["alpha", "gamma"], "mode": "and"},
        {"terms": ["alpha"], "exclude_terms": ["delta"]},
        {"terms": ["alpha", "beta"], "strategy": "exhaustive"},
        {"terms": ["alpha", "beta"], "strategy": "bmw"},
        {"terms": ["zz_missing", "beta"]},
    ],
)
def test_tier_matches_distributed(spark, idx, monkeypatch, kwargs):
    monkeypatch.setenv("PGSPARK_QUERY_DRIVER_BYTES", "0")
    dist = _collect(query.search(spark, idx, k=5, **kwargs))
    monkeypatch.setenv("PGSPARK_QUERY_DRIVER_BYTES", str(64 << 20))
    tier = _collect(query.search(spark, idx, k=5, **kwargs))
    assert tier == dist  # bit-exact: same scorers, same merge order


@pytest.fixture(scope="module")
def pos_idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tier_pos") / "idx")
    pdf = pd.DataFrame({"doc_id": range(len(DOCS)), "text": DOCS})
    docs = spark.createDataFrame(pdf, "doc_id long, text string")
    build.build_index(
        spark, build.docs_unit_provider(docs), d, num_units=2, partitions=2,
        with_positions=True,
    )
    merge.merge_index(spark, d)
    return d


def _filter(spark):
    return spark.createDataFrame([(0,), (4,), (6,)], "doc_id long")


# every family that runs through the per-unit executor's tier-eligible
# reduces: (name, call(spark, index_dir) -> DataFrame)
FAMILIES = [
    ("or", lambda s, d: query.search(s, d, ["alpha", "gamma"], 5)),
    ("and", lambda s, d: query.search(s, d, ["alpha", "gamma"], 5, mode="and")),
    ("must_not", lambda s, d: query.search(
        s, d, ["alpha", "beta"], 5, exclude_terms=["delta"])),
    ("exhaustive", lambda s, d: query.search(
        s, d, ["alpha", "beta"], 5, strategy="exhaustive")),
    ("maxscore", lambda s, d: query.search(
        s, d, ["alpha", "beta"], 5, strategy="maxscore")),
    ("bmw", lambda s, d: query.search(s, d, ["alpha", "beta"], 5, strategy="bmw")),
    ("filter_include", lambda s, d: query.search(
        s, d, ["alpha", "gamma"], 5, filter_df=_filter(s))),
    ("after", lambda s, d: query.search_after(
        s, d, ["alpha", "beta"], 3, after=(1.2, 0))),
    ("phrase", lambda s, d: query.search_phrase(s, d, ["beta", "gamma"], 5)),
    ("phrase_prefix", lambda s, d: query.search_phrase_prefix(
        s, d, ["beta", "ga"], 5)),
    ("min_should", lambda s, d: query.search_min_should_match(
        s, d, ["alpha", "beta", "gamma"], 2, 5)),
    ("proximity", lambda s, d: query.search_proximity(
        s, d, ["alpha", "gamma"], 2, 5)),
    ("explain", lambda s, d: query.explain_score(
        s, d, ["alpha", "beta", "gamma", "zz_missing"], 4)),
]


@pytest.mark.parametrize("call", [c for _, c in FAMILIES], ids=[n for n, _ in FAMILIES])
def test_family_tier_parity(spark, pos_idx, monkeypatch, call):
    """Each family gives bit-identical rows from the Spark job and from
    the driver tier, and the default budget really takes the tier."""
    monkeypatch.setenv("PGSPARK_QUERY_DRIVER_BYTES", "0")
    dist_df = call(spark, pos_idx)
    dist = [tuple(r) for r in dist_df.collect()]
    monkeypatch.delenv("PGSPARK_QUERY_DRIVER_BYTES")
    tier_df = call(spark, pos_idx)
    tier = [tuple(r) for r in tier_df.collect()]
    assert dist  # every case matches something
    assert tier == dist
    assert not isinstance(dist_df, query._DriverLocalDataFrame)
    assert isinstance(tier_df, query._DriverLocalDataFrame)


@pytest.mark.parametrize(
    "call",
    [
        lambda s, d: query.search_phrase(s, d, ["beta", "gamma"], k=None),
        lambda s, d: query.score_all_matches(s, d, ["alpha", "beta"]),
    ],
    ids=["phrase_all", "score_all_matches"],
)
def test_all_rows_reduce_stays_distributed(spark, pos_idx, call):
    """Reduces that keep every row feed further DataFrame work, so they
    never take the driver tier (a driver result would become a VALUES
    literal of every row)."""
    df = call(spark, pos_idx)
    assert not isinstance(df, query._DriverLocalDataFrame)
    assert sorted(df.columns) == ["doc_id", "score"]
    assert df.count() > 0


def test_tier_gate_bounds_bytes(idx):
    # a cap smaller than the decode working set must refuse the tier
    assert not query._driver_tier_ok([0], {"alpha": 10**9}, ["alpha"])
    assert query._driver_tier_ok([0], {"alpha": 100}, ["alpha"])
    # unit-count bound: a many-unit index never serializes on the driver
    assert not query._driver_tier_ok(
        list(range(query._DRIVER_TIER_MAX_UNITS + 1)), {"alpha": 100}, ["alpha"]
    )


def test_tier_batch_and_after_match(spark, idx, monkeypatch):
    qs = [
        {"query_id": 0, "terms": ["alpha", "gamma"], "k": 3},
        {"query_id": 1, "terms": ["beta"], "k": 4},
        {"query_id": 2, "terms": ["zz_absent"], "k": 3},
    ]
    page1 = _collect(query.search(spark, idx, ["alpha", "beta"], 3))
    cursor = page1[-1][::-1][::-1]  # (doc_id, score) -> use as-is below

    monkeypatch.setenv("PGSPARK_QUERY_DRIVER_BYTES", "0")
    dist_b = sorted(tuple(r) for r in query.search_batch(spark, idx, qs).collect())
    dist_a = _collect(
        query.search_after(
            spark, idx, ["alpha", "beta"], 3, after=(page1[-1][1], page1[-1][0])
        )
    )
    monkeypatch.setenv("PGSPARK_QUERY_DRIVER_BYTES", str(64 << 20))
    tier_b = sorted(tuple(r) for r in query.search_batch(spark, idx, qs).collect())
    tier_a = _collect(
        query.search_after(
            spark, idx, ["alpha", "beta"], 3, after=(page1[-1][1], page1[-1][0])
        )
    )
    assert tier_b == dist_b
    assert tier_a == dist_a


def test_distributed_expansion_matches_driver_stream(spark, idx, monkeypatch):
    """Unpruned fuzzy / leading-wildcard / regexp expansion over a lexicon
    beyond the byte gate runs as a Spark job (mapInArrow over the lexicon
    with the same RE2 / numpy-DP kernels) — term sets must be identical to
    the driver stream."""
    cases = [
        lambda: query.expand_wildcard(idx, "*eta", 16),
        lambda: query.expand_regexp(idx, "[bz]eta", 16),
        lambda: query.expand_fuzzy(idx, "beta", 1, 16, prefix_length=0),
        lambda: query.expand_fuzzy(idx, "gamm", 1, 16, prefix_length=0,
                                   transpositions=True),
    ]
    monkeypatch.setenv("PGSPARK_QUERY_DRIVER_BYTES", str(64 << 20))
    stream = [c() for c in cases]
    monkeypatch.setenv("PGSPARK_QUERY_DRIVER_BYTES", "0")  # force the job
    job = [c() for c in cases]
    assert job == stream
    assert stream[0]  # *eta matches beta/zeta/eta-family terms


def test_local_df_roundtrips_doubles_exactly(spark):
    import math

    vals = [0.1 + 0.2, 1e-300, 12345.678901234567, math.pi, 3.0]
    rows = [(i, v) for i, v in enumerate(vals)]
    got = _collect(query._local_df(spark, rows, query.RESULT_SCHEMA))
    assert got == rows  # bit-exact float64 round-trip through the SQL literal
