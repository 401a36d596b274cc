"""session.local_rows_df: driver-sized frames are LocalRelations, including
string columns — collecting one runs no Spark job, and every string comes
back exactly as given."""

from search_engine_trec_fair_ranking_19_spark.session import local_rows_df

AWKWARD = [
    "it's",
    'say "hi"',
    "back\\slash \\' \\\\",
    "naïve 日本語 😀",
    "tab\tnew\nline\x00nul",
    "%s {0} :p0 ?",
    "",
    None,
]


def _jobs(spark):
    return len(spark.sparkContext._jsc.sc().statusTracker().getJobIdsForGroup(None))


def test_string_frame_collects_without_a_job(spark):
    rows = [(i, f"http://x/{i}", i % 3) for i in range(50)]
    df = local_rows_df(spark, rows, "qid int, url string, rel int")
    n0 = _jobs(spark)
    got = df.collect()
    assert _jobs(spark) - n0 == 0, "collect ran a job"
    assert [tuple(r) for r in got] == rows
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()


def test_string_cells_round_trip_exactly(spark):
    rows = [(i, s, float(i) / 3) for i, s in enumerate(AWKWARD)]
    df = local_rows_df(spark, rows, "qid int, query string, seconds double")
    assert [tuple(r) for r in df.collect()] == rows
    # a string-only frame, and the empty frame
    assert [r[0] for r in local_rows_df(spark, [(s,) for s in AWKWARD], "t string").collect()] == AWKWARD
    assert local_rows_df(spark, [], "t string, n long").collect() == []
