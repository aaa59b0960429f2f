package graft.ops

import org.scalacheck.{Gen, Prop, Properties}

/** AsOf.asofJoin vs a naive per-row reference computation over random
  * timelines (including exact-tie timestamps).
  */
object AsOfProperties extends Properties("AsOf") {

  private lazy val spark = graft.SparkConfigs.local(4)

  private val rowGen = for {
    user <- Gen.choose(1L, 3L)
    t    <- Gen.choose(0L, 20L)
  } yield (user, t)

  private val timelineGen: Gen[(Seq[(Long, Long, Long)], Seq[(Long, Long, Long)])] = for {
    ls <- Gen.listOfN(12, rowGen)
    rs <- Gen.listOfN(6, rowGen)
  } yield (
    ls.zipWithIndex.map { case ((u, t), i) => (i.toLong, u, t) },
    // unique (user, ts) on the right side, like a real event log at ns precision
    rs.distinctBy(r => (r._1, r._2)).zipWithIndex.map { case ((u, t), i) => (100L + i, u, t) }
  )

  property("matchesNaiveLatestAtOrBefore") = Prop.forAll(timelineGen) { case (ls, rs) =>
    import spark.implicits._
    val left  = ls.toDF("event_id", "user_id", "t")
    val right = rs.toDF("p_id", "user_id", "p_t")
    val got = AsOf.asofJoin(left, right, Seq("user_id"), "t", "p_t", Seq("p_id"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(r.fieldIndex("p_id"))) None else Some(r.getLong(r.fieldIndex("p_id"))))).toMap
    ls.forall { case (id, u, t) =>
      val expected = rs.filter(r => r._2 == u && r._3 <= t)
        .sortBy(r => (r._3, r._1)).lastOption.map(_._1)
      got(id) == expected
    }
  }
}
