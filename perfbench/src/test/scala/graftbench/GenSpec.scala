package graftbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def cdcDay(seed: Long, days: Int) = {
    val g = new CdcGen(seed, 2000)
    (1 to days).foreach(_ => g.advance())
    g.extract
  }

  test("the same seed gives identical inputs") {
    assert(cdcDay(7, 3) == cdcDay(7, 3))
    assert(new CorpusGen(7, 200).shard(1) == new CorpusGen(7, 200).shard(1))
    assert(new CorpusGen(7, 200).bench == new CorpusGen(7, 200).bench)
    assert(new VecGen(7, 500, 8, 4).corpus == new VecGen(7, 500, 8, 4).corpus)
    assert(new VecGen(7, 500, 8, 4).query(3) == new VecGen(7, 500, 8, 4).query(3))
  }

  test("a different seed gives different inputs") {
    assert(cdcDay(7, 3) != cdcDay(8, 3))
    assert(new CorpusGen(7, 200).shard(1).docs != new CorpusGen(8, 200).shard(1).docs)
    assert(new VecGen(7, 500, 8, 4).corpus != new VecGen(8, 500, 8, 4).corpus)
  }

  test("cdc keys are unique and each day changes about its drawn share") {
    val g = new CdcGen(3, 10000)
    (1 to 7).foreach { d =>
      val changed = g.advance()
      val f = g.changeFrac(d)
      assert(changed > 10000 * f && changed < 10000 * f * 2.2, s"day $d changed $changed")
    }
    val rids = g.extract.map(_.getLong(0))
    assert(rids.distinct.size == rids.size)
    assert(rids.size == g.liveRows)
  }

  test("shards plant every kind at its share, with unique ids") {
    val gen = new CorpusGen(5, 600)
    (0 until 3).foreach { s =>
      val sh = gen.shard(s)
      val ids = sh.docs.map(_._1)
      assert(ids.distinct.size == 600)
      val kinds = sh.planted.values.groupBy(identity).map { case (k, v) => k -> v.size }
      val dups = (600 * gen.dupShare(s) / 2).toInt
      assert(kinds == Map("exact_dup" -> dups, "near_dup" -> dups,
        "contaminated" -> 18, "too_short" -> 18))
    }
  }

  test("change and duplicate shares drawn over seeds cover their ranges") {
    val fracs = (1 to 10).map(seed => new CdcGen(seed, 10).changeFrac(4))
    assert(fracs.forall(f => f >= CdcGen.MinChangeFrac && f < CdcGen.MaxChangeFrac))
    assert(fracs.min < 0.01 && fracs.max > 0.02)
    val shares = (1 to 10).map(seed => new CorpusGen(seed, 10).dupShare(3))
    assert(shares.forall(d => d >= CorpusGen.MinDupShare && d < CorpusGen.MaxDupShare))
    assert(shares.min < 0.1 && shares.max > 0.2)
  }

  test("a near duplicate shares its source's words but few 3-grams") {
    val sh = new CorpusGen(5, 600).shard(2)
    val text = sh.docs.toMap
    def grams(t: String) = t.split(' ').toSeq.sliding(3).toSet
    val nearIds = sh.planted.collect { case (id, "near_dup") => id }
    nearIds.foreach { id =>
      val words = text(id).split(' ').toSet
      val source = text.collectFirst {
        case (o, t) if o != id && !sh.planted.contains(o) &&
          words.subsetOf(t.split(' ').toSet) => t
      }
      assert(source.nonEmpty, s"no source for near duplicate $id")
      val shared = grams(text(id)) intersect grams(source.get)
      // each shared 3-gram can cost the later copy three tokens in span
      // removal; the three dropped lines keep the copy the shorter one
      assert(shared.size * 3 < 24)
    }
  }

  test("vector clusters are tighter than the space") {
    val g = new VecGen(9, 400, 16, 4)
    val q = g.query(0)
    val sims = (0L until 400L).map(i => AnnServe.cosine(g.vector(i), g.vector(VecGen.QueryBase)))
    assert(sims.max > 0.7)
    assert(sims.min < 0.5)
    assert(q.getLong(0) == VecGen.QueryBase)
  }
}
