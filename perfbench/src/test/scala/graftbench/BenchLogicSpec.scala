package graftbench

import org.scalatest.funsuite.AnyFunSuite

class BenchLogicSpec extends AnyFunSuite {

  test("nearest-rank percentiles and the ten-samples-beyond rule") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 95) == 95.0)
    assert(Stats.percentile(xs.reverse, 99) == 99.0)
    assert(Stats.percentile(Seq(7.0), 90) == 7.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.supports(100, 90))
    assert(!Stats.supports(100, 95))
    assert(Stats.supports(200, 95))
    assert(Stats.highestSupported(19).isEmpty)
    assert(Stats.highestSupported(20).contains(50.0))
    assert(Stats.highestSupported(40).contains(75.0))
    assert(Stats.highestSupported(199).contains(90.0))
    assert(Stats.highestSupported(200).contains(95.0))
    assert(Stats.highestSupported(1000).contains(99.0))
  }

  test("job-interval union and the uncovered part of an op (driver gap)") {
    assert(Stats.unionLength(Nil) == 0.0)
    assert(Stats.unionLength(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 25.0))) == 20.0)
    assert(Stats.unionLength(Seq((0.0, 10.0), (2.0, 3.0))) == 10.0) // nested
    assert(Stats.unionLength(Seq((5.0, 5.0), (7.0, 6.0))) == 0.0) // empty and reversed
    // op [0, 100]; jobs overlap each other and stick out of the op
    assert(Stats.uncovered(0, 100, Seq((-5.0, 10.0), (20.0, 40.0), (30.0, 50.0), (90.0, 120.0))) == 50.0)
    assert(Stats.uncovered(0, 100, Nil) == 100.0)
  }

  test("self time is a span minus what its children cover") {
    val spans = Seq(
      Span(1, 0, 1, "bench", "op", 0, 100),
      Span(2, 1, 1, "VectorDB", "route", 10, 30),
      Span(3, 1, 1, "VectorDB", "collect", 25, 90),
      Span(4, 3, 1, "embed", "query", 40, 45))
    val self = Layers.selfTimes(spans)
    assert(self(1) == 20.0)
    assert(self(2) == 20.0)
    assert(self(3) == 60.0)
    assert(self(4) == 5.0)
  }

  test("generators: the same seed gives byte-identical inputs") {
    def docs(seed: Long) = Gen.docs(new Rng(seed), Gen.centres(seed, 8), 0L, 200)
    assert(Gen.digest(docs(7)) == Gen.digest(docs(7)))
    assert(Gen.digest(docs(7)) != Gen.digest(docs(8)))
    val a = Corpus.generate(new Rng(3), 300, 0.15, 0.1)
    val b = Corpus.generate(new Rng(3), 300, 0.15, 0.1)
    assert(a == b)
    assert(a != Corpus.generate(new Rng(4), 300, 0.15, 0.1))
    assert(a.texts.size - a.distinct == a.texts.size - a.texts.distinct.size)
  }

  test("generated metadata is canonical JSON: the oracle's ids are the engine's") {
    Gen.docs(new Rng(1), Gen.centres(1, 4), 0L, 50).foreach { d =>
      assert(d.metadata.contains("Pok\\u00e9mon\"") && d.metadata.contains("\"Sp. Attack\": "))
      assert(graft.functions.JsonUuid5.canonicalize(d.metadata) == d.metadata)
      assert(graft.functions.JsonUuid5.jsonUuid5(d.metadata) == d.id)
    }
  }

  private def doc(i: Int) = Doc(s"""{"id": $i}""", Array(i.toFloat), i, Vector("Normal"))
  private def row(id: String, d: Doc) = (id, d.metadata, d.embedding)

  test("mutate model: dedup insert, upsert, merge arms, delete") {
    val m = new TableModel
    val (a, b, c) = (doc(1), doc(2), doc(3))
    assert(m.insert(Seq(a, b, a)) == 2) // first of a batch wins
    assert(m.insert(Seq(b, c)) == 1) // present ids are skipped
    assert(m.size == 3 && m.hashedIds == Set(a.id, b.id, c.id))
    assert(m.upsert(Seq(a.id -> doc(10), "n1" -> doc(11))) == 2)
    assert(m.get(a.id).exists(_.attack == 10))
    assert(!m.hashedIds.contains(a.id)) // its content no longer hashes to it
    assert(m.merge(Seq((b.id, doc(0), 'd'), (c.id, doc(12), 'u'), ("n2", doc(13), 'i'),
      ("gone", doc(0), 'd'), ("n1", doc(14), 'i'))) == 3) // matched insert, unmatched delete: no-ops
    assert(!m.contains(b.id) && m.deleted(b.id))
    assert(m.get(c.id).exists(_.attack == 12) && m.contains("n2"))
    assert(m.delete(Seq("n2", "never")) == 1)
    assert(m.live.keySet == Set(a.id, c.id, "n1"))
  }

  test("mutate model: the end-state diff catches each kind of divergence") {
    val m = new TableModel
    val (a, b) = (doc(1), doc(2))
    m.insert(Seq(a, b))
    m.delete(Seq(b.id))
    assert(m.diff(Seq(row(a.id, a))).isEmpty)
    assert(m.diff(Seq(row(a.id, a), row(a.id, a))).exists(_.contains("duplicate")))
    assert(m.diff(Seq(row(a.id, a), row(b.id, b))).exists(_.contains("deleted ids came back")))
    assert(m.diff(Nil).exists(_.contains("missing")))
    assert(m.diff(Seq(row(a.id, a), row("x", a))).exists(_.contains("does not have")))
    assert(m.diff(Seq(row(a.id, doc(9)))).exists(_.contains("differ")))
  }

  test("mutate model: sampling draws distinct live ids reproducibly") {
    val m = new TableModel
    m.insert((1 to 50).map(doc))
    val s1 = m.sample(new Rng(5), 10)
    assert(s1 == m.sample(new Rng(5), 10))
    assert(s1.distinct.size == 10 && s1.forall(m.contains))
    assert(m.sample(new Rng(5), 500).size == 50)
  }
}
