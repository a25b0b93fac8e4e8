package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming windowed top-k ("top talkers"): the k keys with the most
  * events per tumbling window — the alert shape SIEM pipelines use for
  * volumetric rules (beaconing hosts, spray sources) and data pipelines
  * use for hot-key monitoring.
  *
  * Implemented as two CHAINED stateful aggregations (multiple stateful
  * operators over the same event-time window, supported with watermarks):
  * (window, key) counts finalize in append mode once the watermark passes
  * window end, then flow into a per-window bounded-state `topk3_ids`
  * aggregate (graft.functions.TopKIdsExpr) re-keyed on the SAME window via
  * `window_time`. State per window is O(distinct keys) in the first
  * operator (the count map Spark keeps anyway) and O(k) in the second —
  * never a per-window event buffer, and never a sort of the full count
  * set. Batch analog: `win_topk_per_window` (DuckDB-oracle-checked); the
  * parity test lives in StreamingSpec.
  */
object TopTalkers {
  def topK(events: DataFrame, tsCol: String, keyCol: String,
           windowLen: String, lateness: String): DataFrame = {
    graft.functions.GraftFunctions.register(events.sparkSession)
    val counts = events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLen).as("w"), col(keyCol).as("k"))
      .agg(count(lit(1)).as("n"))
    counts
      .groupBy(window(window_time(col("w")), windowLen).as("w2"))
      .agg(expr("topk3_ids(CAST(n AS DOUBLE), k)").as("top"))
      .select(unix_micros(col("w2.start")).as("start_us"),
        posexplode(col("top.ids")).as(Seq("pos", "k")))
      .select(col("start_us"), (col("pos") + 1).as("rank"), col("k"))
  }
}
