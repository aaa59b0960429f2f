package graft.ops

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.functions._

/** Events.sessionize vs a naive per-user fold over random timelines. */
object EventsProperties extends Properties("Events") {

  private lazy val spark = graft.SparkConfigs.local(4)

  private val GapMin = 30

  private val rowGen = for {
    user <- Gen.choose(1L, 3L)
    // minutes offsets spanning several gap windows
    tMin <- Gen.choose(0L, 300L)
  } yield (user, tMin)

  private val timelineGen: Gen[Seq[(Long, Long, Long)]] =
    Gen.listOfN(20, rowGen).map(_.zipWithIndex.map { case ((u, t), i) => (i.toLong, u, t) })

  // ── streaming funnel fold ≡ batch funnel joins ─────────────────────────

  private val Stages = Seq("view", "click", "purchase")

  private val funnelRowGen = for {
    user <- Gen.choose(1L, 3L)
    tMin <- Gen.choose(0L, 4000L) // spans several 24h windows
    typ <- Gen.oneOf("view", "click", "purchase", "error")
  } yield (user, tMin, typ)

  private val funnelTimelineGen: Gen[Seq[(Long, Long, Long, String)]] =
    Gen.listOfN(24, funnelRowGen)
      .map(_.zipWithIndex.map { case ((u, t, ty), i) => (i.toLong, u, t, ty) })

  /** The incremental per-user state fold and the batch three-join plan are
    * two implementations of one spec — they must agree on arbitrary
    * timelines (greedy min per stage, strict progression, 24h windows).
    */
  property("funnelStreamMatchesBatchFunnel") = Prop.forAll(funnelTimelineGen) { rows =>
    import spark.implicits._
    val df = rows.toDF("event_id", "user_id", "t_min", "event_type")
      .withColumn("ts", timestamp_seconds(col("t_min") * 60))
      .withColumn("value", lit(1.0))
    def key(r: org.apache.spark.sql.Row) =
      r.getAs[Long]("user_id") ->
        (Option(r.getAs[java.sql.Timestamp]("t1")).map(_.getTime),
          Option(r.getAs[java.sql.Timestamp]("t2")).map(_.getTime),
          Option(r.getAs[java.sql.Timestamp]("t3")).map(_.getTime),
          r.getAs[Int]("reached"))
    val batch = Events.funnel(df, "user_id", "ts", "event_type", Stages, "24 HOURS")
      .collect().map(key).toMap
    val stream = graft.streaming.StreamOps.funnelStream(
      df.select("event_id", "user_id", "event_type", "value", "ts")
        .as[graft.streaming.StreamOps.Event],
      Stages, java.time.Duration.ofHours(24))
      .toDF().filter(col("reached") >= 1).collect().map(key).toMap
    batch == stream
  }

  property("matchesNaiveGapFold") = Prop.forAll(timelineGen) { rows =>
    import spark.implicits._
    val df = rows.toDF("event_id", "user_id", "t_min")
      .withColumn("ts", timestamp_seconds(col("t_min") * 60))
      .withColumn("value", lit(1.0))
    val got = Events.sessionize(df, "user_id", "ts", GapMin, "event_id")
      .select("event_id", "session_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // naive: per user, sort by (t, event_id), new session when gap > 30min
    rows.groupBy(_._2).forall { case (_, evs) =>
      val sorted = evs.sortBy(e => (e._3, e._1))
      var sid   = 0L
      var last  = Long.MinValue
      sorted.forall { case (id, _, t) =>
        if (last == Long.MinValue || (t - last) > GapMin) sid += 1
        last = t
        got(id) == sid
      }
    }
  }
}
