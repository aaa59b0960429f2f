package graftbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Every output check passes on a correct result and fails on a corrupted
  * one.
  */
class ChecksSpec extends AnyFunSuite {

  private val gen = {
    val g = new CdcGen(1, 500)
    g.advance()
    g
  }
  private def loaded(r: Row) = Row.fromSeq(r.toSeq :+ "loaded")
  private val table = gen.extract.map(loaded)

  private def set(r: Row, i: Int, v: Any) = Row.fromSeq(r.toSeq.updated(i, v))

  test("cdc: the expected table passes, in any order") {
    assert(gen.mismatch(table) == null)
    assert(gen.mismatch(table.reverse) == null)
  }

  test("cdc: a changed, missing, repeated or extra row fails") {
    assert(gen.mismatch(table.updated(3, set(table(3), 3, table(3).getInt(3) + 1))) != null)
    assert(gen.mismatch(table.updated(3, set(table(3), 1, table(3).getInt(1) + 1))) != null)
    assert(gen.mismatch(table.updated(3, set(table(3), 7, "new"))) != null)
    assert(gen.mismatch(table.tail) != null)
    assert(gen.mismatch(table.tail :+ table.head :+ table.head) != null)
    assert(gen.mismatch(table :+ loaded(gen.row(gen.maxRid + 1, 0))) != null)
  }

  test("cdc: a range read holds exactly the live rows in range") {
    val (lo, hi) = (100L, 200L)
    val in = table.filter(r => r.getLong(0) >= lo && r.getLong(0) <= hi)
    assert(gen.mismatch(in, lo, hi) == null)
    assert(gen.mismatch(in.tail, lo, hi) != null)
    assert(gen.mismatch(in :+ table.find(_.getLong(0) > hi).get, lo, hi) != null)
  }

  private val shard = new CorpusGen(2, 300).shard(1)
  private val good = shard.docs.map { case (id, _) =>
    id -> (if (shard.planted.contains(id)) "near_dup" else "kept")
  }

  test("corpus: one disposition per document with no planted document kept passes") {
    assert(CorpusPrep.mismatch(shard, good) == null)
  }

  test("corpus: a missing, doubled, unknown or kept planted disposition fails") {
    assert(CorpusPrep.mismatch(shard, good.tail) != null)
    assert(CorpusPrep.mismatch(shard, good :+ good.head) != null)
    assert(CorpusPrep.mismatch(shard, good :+ (42L -> "kept")) != null)
    shard.planted.values.toSet.foreach { (kind: String) =>
      val id = shard.planted.collectFirst { case (i, `kind`) => i }.get
      assert(CorpusPrep.mismatch(shard, good.map {
        case (`id`, _) => id -> "kept"
        case o => o
      }) != null, kind)
    }
  }

  private val vecs = new VecGen(4, 50, 8, 3)
  private val queries = Seq(VecGen.QueryBase, VecGen.QueryBase + 1)
  private def exact(q: Long) = (0L until 50L)
    .map(i => (q, i, BigDecimal(AnnServe.cosine(vecs.vector(q), vecs.vector(i)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    .sortBy(t => (-t._3, t._2)).take(AnnServe.K)
  private val result = queries.flatMap(exact)
  private def check(r: Seq[(Long, Long, Double)]) = AnnServe.mismatch(queries, r, vecs.vector, 50)

  test("ann: exact top-k results pass") {
    assert(check(result) == null)
  }

  test("ann: a missing, repeated, foreign, misordered or misscored neighbour fails") {
    assert(check(result.tail) != null)
    assert(check(result.updated(1, result(0).copy(_3 = result(1)._3))) != null)
    assert(check(result.updated(1, result(1).copy(_2 = 50L))) != null)
    assert(check(result.updated(0, result(1)).updated(1, result(0))) != null)
    assert(check(result.updated(4, result(4).copy(_3 = result(4)._3 - 1e-3))) != null)
  }

  private val truth = result.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2) }
  private def recall(r: Seq[(Long, Long, Double)]) = {
    val (h, e) = AnnServe.hits(queries, r, truth)
    AnnServe.recallProblem(h, e)
  }

  test("ann: the true neighbours pass the recall check") {
    assert(recall(result) == null)
  }

  test("ann: well-formed results with the wrong neighbours fail the recall check") {
    // the farthest vectors, exactly scored and ordered: only recall catches them
    val farthest = queries.flatMap(q => (0L until 50L)
      .map(i => (q, i, AnnServe.cosine(vecs.vector(q), vecs.vector(i))))
      .sortBy(t => (t._3, t._2)).take(AnnServe.K).reverse)
    assert(check(farthest) == null)
    assert(recall(farthest) != null)
    // three of ten neighbours wrong per query is recall 0.7, below the floor
    val threeWrong = queries.flatMap(q => exact(q).take(AnnServe.K - 3) ++
      farthest.filter(_._1 == q).take(3))
    assert(recall(threeWrong) != null)
    assert(recall(Nil) != null)
  }
}
