package graft.ops

import org.scalacheck.{Gen, Prop, Properties}

/** Model-based law for the transactional manifest layer: an ARBITRARY
  * sequence of append / overwrite / upsert / compact operations must read
  * back exactly what an in-memory model of the same operations holds —
  * and every historical version must stay byte-stable (immutable) no
  * matter what later operations do. The commit protocol (write-once
  * manifests, rebases, staged files) is a plan detail, never the answer.
  */
object ManifestProperties extends Properties("Manifest") {

  // each case pays several parquet writes; 25 random op sequences pin the
  // law without dominating the suite's wall-clock
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(25)

  private lazy val spark = graft.SparkConfigs.local(4)

  sealed trait Op
  final case class Append(rows: List[(Long, String)]) extends Op
  final case class Overwrite(rows: List[(Long, String)]) extends Op
  final case class Upsert(rows: List[(Long, String)]) extends Op
  final case class MorUpsert(rows: List[(Long, String)]) extends Op
  final case class MorDelete(below: Long) extends Op
  case object Compact extends Op
  case object Purge extends Op

  private val keyGen = Gen.choose(0L, 9L)
  private val rowGen: Gen[(Long, String)] = for {
    k <- keyGen
    v <- Gen.alphaLowerStr.map(_.take(4))
  } yield (k, v)
  private val rowsGen = Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, rowGen))

  private val opGen: Gen[Op] = Gen.frequency(
    4 -> rowsGen.map(Append),
    2 -> rowsGen.map(Overwrite),
    3 -> rowsGen.map(Upsert),
    2 -> rowsGen.map(MorUpsert),
    2 -> keyGen.map(MorDelete),
    1 -> Gen.const(Compact),
    1 -> Gen.const(Purge))

  private val opsGen: Gen[List[Op]] =
    Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, opGen))

  /** Multiset model: append accumulates, overwrite replaces, upsert keeps
    * last-writer-wins by a strictly increasing seq, compact is a no-op on
    * contents. Upsert's model: batch-deduped by key (highest seq within
    * the batch wins), then existing rows with matching keys replaced.
    * The MERGE-ON-READ variants (deletion vectors instead of rewrites)
    * must be contents-equivalent: MorUpsert ≡ Upsert, MorDelete removes
    * the matching rows, Purge (folding vectors into files) is a no-op.
    */
  private def applyModel(model: Vector[(Long, String, Long)], op: Op,
                         seqBase: Long): Vector[(Long, String, Long)] = op match {
    case Append(rows) =>
      model ++ rows.zipWithIndex.map { case ((k, v), i) => (k, v, seqBase + i) }
    case Overwrite(rows) =>
      rows.zipWithIndex.map { case ((k, v), i) => (k, v, seqBase + i) }.toVector
    case Upsert(rows) =>
      val stamped = rows.zipWithIndex.map { case ((k, v), i) => (k, v, seqBase + i) }
      val latest = stamped.groupBy(_._1).map(_._2.maxBy(_._3)).toVector
      val keys = latest.map(_._1).toSet
      model.filterNot(r => keys(r._1)) ++ latest
    case MorUpsert(rows) => applyModel(model, Upsert(rows), seqBase)
    case MorDelete(below) => model.filterNot(_._1 < below)
    case Compact | Purge => model
  }

  property("any op sequence reads back as the model; history immutable") =
    Prop.forAll(opsGen) { ops =>
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("mfprop").toString + "/ds"
      var model = Vector.empty[(Long, String, Long)]
      var seqBase = 0L
      var snapshots = List.empty[(Long, Set[(Long, String, Long)])] // version -> expected
      for (op <- ops) {
        val stamped = op match {
          case Append(rows) => Some(rows.zipWithIndex.map { case ((k, v), i) =>
            (k, v, seqBase + i) })
          case Overwrite(rows) => Some(rows.zipWithIndex.map { case ((k, v), i) =>
            (k, v, seqBase + i) })
          case Upsert(rows) => Some(rows.zipWithIndex.map { case ((k, v), i) =>
            (k, v, seqBase + i) })
          case MorUpsert(rows) => Some(rows.zipWithIndex.map { case ((k, v), i) =>
            (k, v, seqBase + i) })
          case MorDelete(_) | Compact | Purge => None
        }
        val v = op match {
          case Append(_) => Manifest.append(stamped.get.toDF("k", "v", "seq"), dir)
          case Overwrite(_) => Manifest.overwrite(stamped.get.toDF("k", "v", "seq"), dir)
          case Upsert(_) =>
            Manifest.upsert(stamped.get.toDF("k", "v", "seq"), dir, Seq("k"), "seq")
          case MorUpsert(_) =>
            Manifest.upsertMergeOnRead(stamped.get.toDF("k", "v", "seq"),
              dir, Seq("k"), "seq")
          case MorDelete(below) =>
            if (Manifest.latestVersion(spark, dir) == 0) -1L
            else Manifest.deleteMergeOnRead(spark, dir,
              org.apache.spark.sql.functions.col("k") < below)
          case Compact =>
            if (Manifest.latestVersion(spark, dir) == 0) -1L
            else Manifest.compact(spark, dir, targetFileBytes = 1L << 20)
          case Purge =>
            if (Manifest.latestVersion(spark, dir) == 0) -1L
            else Manifest.purgeDeletes(spark, dir)
        }
        model = applyModel(model, op, seqBase)
        seqBase += 10
        if (v > 0) snapshots ::= (v, model.toSet)
      }
      if (snapshots.isEmpty) Prop.passed
      else {
        def readSet(version: Long): Set[(Long, String, Long)] =
          Manifest.read(spark, dir, version).collect()
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
        // latest == model after all ops
        val latestOk = readSet(-1L) == model.toSet
        // EVERY committed version still reads as it did when committed
        val historyOk = snapshots.forall { case (v, expected) => readSet(v) == expected }
        (Prop(latestOk) :| s"latest mismatch: got ${readSet(-1L)} want ${model.toSet}") &&
          (Prop(historyOk) :| "a historical version changed after later commits")
      }
    }
}
