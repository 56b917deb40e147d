"""``use_wand="maxscore"`` on a built index returns exactly what the
plain OR search returns: every ``use_wand`` value runs the exhaustive
kernel."""


def test_reader_parity_on_built_index(spark, tmp_path_factory):
    """End-to-end through SearchIndex.search(use_wand='maxscore'):
    bit-identical to both the exhaustive and the WAND paths."""
    from fatespark.build import BuildConfig, IndexBuilder
    from fatespark.corpus import pages_df
    from fatespark.query import SearchIndex
    d = str(tmp_path_factory.mktemp("ms") / "idx")
    IndexBuilder(d, BuildConfig(n_buckets=4, salt_bits=1)).build(
        spark, pages_df(spark, 1000, partitions=4), build_id="ms")
    idx = SearchIndex(spark, d)
    for q in (["the", "smith", "zyzzyva"], ["smith", "data"], ["the"]):
        rows = lambda w: [(r["doc_id"], r["score"]) for r in
                          idx.search(q, k=10, mode="OR", use_wand=w,
                                     quantize=4).collect()]
        ex, bmw, ms = rows(False), rows(True), rows("maxscore")
        assert ms == ex == bmw, q
