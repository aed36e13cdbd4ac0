package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch references of the streaming joins in [[EventPipeline]]: each
  * is the batch operator over the same leg split as its stream, with
  * the stream's output columns, so a spec can compare a bounded run
  * against it. */
object StreamReferences {

  /** [[EventPipeline.clickViewJoinStream]]'s interval join as a batch
    * join. */
  def clickViewJoin(events0: DataFrame, beforeMinutes: Int = 30): DataFrame = {
    val events = graft.functions.EventTime.normalize(events0, "ts")
    events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      .join(events.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts")),
        "user_id")
      .filter(col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr(s"INTERVAL $beforeMinutes MINUTES"))
      .select(col("user_id"), col("click_id"), col("click_ts"),
        col("view_id"), col("view_ts"))
  }

  /** [[EventPipeline.proximityJoinStream]] as the RangeJoin operator. */
  def proximityJoin(
      events: DataFrame, leftType: String, radiusUs: Long): DataFrame =
    graft.operators.RangeJoin.proximityJoin(
        events.filter(col("event_type") === leftType)
          .select(col("event_id").as("l_id"), col("ts").as("l_ts")),
        events.select(col("event_id").as("r_id"), col("ts").as("r_ts"),
          col("value").as("r_value")),
        "l_ts", "r_ts", radiusUs, rightPrefix = "")

  /** [[EventPipeline.asofStream]] as the AsofJoin operator, with
    * [[EventPipeline.AsofOut]]'s columns. */
  def asof(events0: DataFrame): DataFrame = {
    val events = graft.functions.EventTime.normalize(events0, "ts")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("r_event_id"),
        col("ts").as("r_ts"), col("value").as("r_value"))
    graft.operators.AsofJoin.asofBackward(clicks, views, Seq("user_id"),
      "ts", "r_ts", tieBreak = "r_event_id", rightPrefix = "")
  }
}
