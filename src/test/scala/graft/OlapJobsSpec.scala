package graft

/** Job-count pins for the ten keys of the `olap_sf01` benchmark workload,
  * each run the way the benchmark runs it (its whole plan through the
  * `noop` sink). At sf0.1 these keys cost fixed per-job overhead more
  * than data work, so a key that grows a pass back (a second scan, an
  * extra aggregate, a range-sampling job) shows here. */
class OlapJobsSpec extends SparkSpec {

  private val expected = Map(
    "text_lang_stats" -> 3,
    "vec_cosine_topk" -> 2,
    "text_exact_dedup" -> 3,
    "join_left_anti" -> 4,
    "graph_triangle_count" -> 8,
    "agg_count_distinct" -> 4,
    "topk_per_key" -> 3,
    "stream_tumbling_1h" -> 3,
    "text_wordcount_topk" -> 2,
    "report_funnel" -> 3)

  private def jobs(key: String): Int = {
    // build outside the recording: only the query's own jobs count
    val df = SparkEntry.queries(key)(spark, sf)
    JobRecorder.record(spark)(
      df.write.format("noop").mode("overwrite").save())._1.size
  }

  test("each olap_sf01 key runs its pinned number of jobs") {
    val got = expected.keys.toSeq.sorted.map(k => k -> jobs(k)).toMap
    assert(got == expected)
  }
}
