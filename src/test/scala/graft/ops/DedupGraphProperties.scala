package graft.ops

import org.scalacheck.{Gen, Prop, Properties}

/** Law for the distributed connected-components loop: on arbitrary pair
  * graphs it must return exactly the components a sequential union-find
  * computes — iteration count, checkpointing, and partitioning are plan
  * details, never the answer.
  */
object DedupGraphProperties extends Properties("ConnectedComponents") {

  private lazy val spark = graft.SparkConfigs.local(4)

  private val pairsGen: Gen[List[(Long, Long)]] = for {
    n     <- Gen.choose(1, 14)            // node universe 0..n
    m     <- Gen.choose(1, 20)            // edges (dups + self-loops allowed)
    pairs <- Gen.listOfN(m, for {
      a <- Gen.choose(0L, n.toLong)
      b <- Gen.choose(0L, n.toLong)
    } yield (a, b))
  } yield pairs

  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  property("equals sequential union-find on arbitrary graphs") =
    Prop.forAll(pairsGen) { pairs =>
      import spark.implicits._
      val got = Dedup.connectedComponents(pairs.toDF("id1", "id2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == unionFind(pairs)
    }
}
