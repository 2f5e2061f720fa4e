package graft.queries

import graft.SparkSpec

class RelationalQueriesSpec extends SparkSpec {
  import spark.implicits._

  test("q18: a user with no error events gets error_ids = '' (not NULL)") {
    // the oracle's COALESCE(array_agg(...) FILTER ..., []) means an
    // empty list for such a user; DuckDB 1.0.0 then turns
    // array_to_string([]::BIGINT[], ',') into NULL, so only the
    // engine side is pinned here
    val t = ts("2024-01-01 00:00:00")
    val dir = java.nio.file.Files.createTempDirectory("q18").toString
    Seq((1L, t, 7L, "click"), (2L, t, 7L, "purchase"), (3L, t, 8L, "error"),
        (5L, t, 8L, "click"), (4L, t, 8L, "error"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .write.parquet(s"$dir/events.parquet")
    val got = RelationalQueries.q18ConditionalAgg(spark, dir)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((7L, 1L, 1L, ""), (8L, 0L, 1L, "3,4")))
  }
}
