package graft.ops

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.DataFrame

/** Algebraic laws of the CDC diff + dedup ops (SURVEY.md §5: property tests
  * where semantics are algebraic).
  */
object DiffProperties extends Properties("Diff") {

  private lazy val spark = graft.SparkConfigs.local(4)

  private val rowGen = for {
    k  <- Gen.choose(0L, 30L)
    f1 <- Gen.oneOf("a", "b", "c", "")
    f2 <- Gen.oneOf("x", "y", "")
  } yield (k, f1, f2)

  private val tableGen: Gen[Seq[(Long, String, String)]] =
    Gen.listOfN(15, rowGen).map(_.distinctBy(_._1))

  private def df(rows: Seq[(Long, String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "f1", "f2")
  }

  // diff(t, t) = ∅
  property("selfDiffEmpty") = Prop.forAll(tableGen) { rows =>
    Diff.tableDiff(df(rows), df(rows), Seq("k"), Seq("f1", "f2")).count() == 0
  }

  // diff against empty = all 'n'
  property("diffVsEmptyAllNew") = Prop.forAll(tableGen) { rows =>
    val d = Diff.tableDiff(df(rows), df(rows).limit(0), Seq("k"), Seq("f1", "f2"))
      .collect()
    d.length == rows.length && d.forall(_.getString(1) == "n")
  }

  // every diff key is a t1 key; 'c' keys are in both
  property("diffKeysSound") = Prop.forAll(tableGen, tableGen) { (r1, r2) =>
    val d  = Diff.tableDiff(df(r1), df(r2), Seq("k"), Seq("f1", "f2")).collect()
    val k1 = r1.map(_._1).toSet
    val k2 = r2.map(_._1).toSet
    d.forall { r =>
      val (k, tag) = (r.getLong(0), r.getString(1))
      if (tag == "n") k1.contains(k) && !k2.contains(k)
      else k1.contains(k) && k2.contains(k)
    }
  }

  // fingerprint is a function of the selected fields only
  property("fingerprintFieldFunction") = Prop.forAll(tableGen) { rows =>
    val fps = Diff.recordFingerprint(df(rows), Seq("k"), Seq("f1")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.forall { case (k, f1, _) =>
      val expected = java.security.MessageDigest.getInstance("MD5")
        .digest(f1.getBytes("UTF-8")).map("%02x".format(_)).mkString
      fps(k) == expected
    }
  }
}
