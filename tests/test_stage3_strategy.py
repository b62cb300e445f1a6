"""Stage-3 url dictionary invariants (stages._dense_url_ids). The
hot-bucket drop path is gated against the NumPy oracle by
tests/test_parity.py::test_hot_bucket_dropped_and_logged."""


def test_dense_url_ids_deterministic_and_isomorphic(spark):
    """The stage-3 url dictionary must be a pure function of the url SET
    (same ids across input partitioning/order) and order-isomorphic with
    urls (uid compare == url compare — what keeps canonical pairs and the
    sha tier's min-root exact after encoding)."""
    from dedup.stages import _dense_url_ids

    urls = [f"https://s{i % 7}.example.com/d/{i:05d}" for i in range(977)]
    df1 = spark.createDataFrame([(u,) for u in urls], "url string")
    df2 = spark.createDataFrame(
        [(u,) for u in reversed(urls)], "url string"
    ).repartition(13)
    m1 = {r["url"]: r["uid"] for r in _dense_url_ids(df1).collect()}
    m2 = {r["url"]: r["uid"] for r in _dense_url_ids(df2).collect()}
    assert m1 == m2
    assert sorted(m1.values()) == list(range(len(urls)))  # dense 0..n-1
    by_uid = sorted(m1, key=m1.get)
    assert by_uid == sorted(urls)  # uid order == url order
