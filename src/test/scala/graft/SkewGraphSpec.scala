package graft

import graft.operators.{Graph, SkewLayout}
import org.apache.spark.sql.functions._

/** Salted joins must be result-invisible at any salt count, Z-order keys
  * must interleave bits exactly and preserve locality, and PageRank must
  * be partitioning-invariant (the point of integer arithmetic) and match
  * a hand-computed fixpoint on a toy graph.
  */
class SkewGraphSpec extends SparkSuite {

  test("saltedEquiJoin: any salt count is result-identical to the plain join") {
    val s = spark
    import s.implicits._
    // skewed fact: key 1 holds 80% of rows
    val fact = ((1 to 80).map(i => (1L, i.toLong)) ++ (1 to 20).map(i => (2L, 100L + i)))
      .toDF("fk", "row_id")
    val dim = Seq((1L, "hot"), (2L, "cold"), (3L, "unmatched")).toDF("dk", "label")
    val plain = fact.join(dim, col("fk") === col("dk"))
      .groupBy("label").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (salts <- Seq(1, 4, 13)) {
      val salted = SkewLayout.saltedEquiJoin(fact, "fk", dim, "dk", salts, "row_id")
        .groupBy("label").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(salted == plain, s"salts=$salts")
    }
    assert(plain == Map("hot" -> 80L, "cold" -> 20L))
  }

  test("saltedEquiJoin: duplicate dim rows per key survive (inner-join multiplicity)") {
    val s = spark
    import s.implicits._
    val fact = Seq((1L, 10L), (1L, 11L)).toDF("fk", "row_id")
    val dim = Seq((1L, "a"), (1L, "b")).toDF("dk", "label")
    assert(SkewLayout.saltedEquiJoin(fact, "fk", dim, "dk", 5, "row_id").count() == 4)
  }

  test("copurchaseEdges: salted hub routing is result-identical to the plain build") {
    val s = spark
    import s.implicits._
    // hub item 1 held by 40 entities (degree 40 > hotDegree 8 → salted
    // path); items 100+k held by 4 overlapping entities each (cold path);
    // entity pairs share hot AND cold items, so the union-then-count must
    // aggregate across both streams for minShared to be right
    val cp = ((1 to 40).map(c => (c.toLong, 1L)) ++
      (0 until 10).flatMap(k => (1 to 4).map(c => ((c + k).toLong, 100L + k)))
      ).distinct.toDF("c", "p").cache()
    val plain = Graph.copurchaseEdges(cp, 2, hotDegree = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain.nonEmpty)
    for ((hd, sl) <- Seq((8, 1), (8, 5), (1, 3))) {
      val salted = Graph.copurchaseEdges(cp, 2, hotDegree = hd, salts = sl)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(salted == plain, s"hotDegree=$hd salts=$sl")
    }
    // a pair sharing one hot + one cold item crosses streams: with
    // minShared=2 it must appear (counted once per item, summed)
    val both = Graph.copurchaseEdges(cp, 2, hotDegree = 8, salts = 3, hubPath = "salted")
      .filter($"src" === 1L && $"dst" === 2L).count()
    assert(both == 1L)
  }

  test("copurchaseEdges: prefilter hub routing is result-identical to the plain build") {
    val s = spark
    import s.implicits._
    // same mixed fixture as the salted test: hub item 1 (degree 40),
    // overlapping cold items — pairs qualify via hot+cold combinations,
    // so candA (cold pairs topped up by hot counts) carries the result
    val cp = ((1 to 40).map(c => (c.toLong, 1L)) ++
      (0 until 10).flatMap(k => (1 to 4).map(c => ((c + k).toLong, 100L + k)))
      ).distinct.toDF("c", "p").cache()
    val plain = Graph.copurchaseEdges(cp, 2, hotDegree = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain.nonEmpty)
    for (hd <- Seq(8, 1)) {
      val pre = Graph.copurchaseEdges(cp, 2, hotDegree = hd, hubPath = "prefilter")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pre == plain, s"hotDegree=$hd")
    }
  }

  test("copurchaseEdges: prefilter finds pairs that share ONLY hot items (prefix join)") {
    val s = spark
    import s.implicits._
    // hot items 1 and 2 both held by entities 1..20 (degree 20 > 8);
    // entities 21..40 hold only item 1 (hot-poor: |hotSet| = 1 < m = 2 →
    // empty prefix, candB contributes nothing for them); no cold items
    // touch entities 1..20, so every (i, j) ⊆ 1..20 pair qualifies via
    // candB alone with zero cold overlap
    val cp = ((1 to 20).flatMap(c => Seq((c.toLong, 1L), (c.toLong, 2L))) ++
      (21 to 40).map(c => (c.toLong, 1L)) ++
      (41 to 44).map(c => (c.toLong, 500L)) // one cold item elsewhere
      ).toDF("c", "p").cache()
    val plain = Graph.copurchaseEdges(cp, 2, hotDegree = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pre = Graph.copurchaseEdges(cp, 2, hotDegree = 8, hubPath = "prefilter")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain == (for (i <- 1L to 20L; j <- (i + 1) to 20L) yield (i, j)).toSet)
    assert(pre == plain)
  }

  test("copurchaseEdges: randomized plain/salted/prefilter equivalence sweep") {
    val s = spark
    import s.implicits._
    // deterministic pseudo-random incidence with a built-in hub (item 1
    // picks up every 3rd entity) and a mid/cold tail
    val cp = (1 to 600).flatMap { i =>
      val c = (i % 97).toLong
      val base = ((i * 31) % 41).toLong + 10L
      Seq((c, base)) ++ (if (i % 3 == 0) Seq((c, 1L)) else Nil) ++
        (if (i % 7 == 0) Seq((c, 2L)) else Nil)
    }.distinct.toDF("c", "p").cache()
    for (m <- Seq(1L, 2L, 4L)) {
      val plain = Graph.copurchaseEdges(cp, m, hotDegree = Int.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(plain.nonEmpty, s"m=$m fixture must produce edges")
      for (hd <- Seq(5, 20)) {
        val salted = Graph.copurchaseEdges(cp, m, hotDegree = hd, salts = 3, hubPath = "salted")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(salted == plain, s"salted m=$m hotDegree=$hd")
        if (m >= 2) {
          val pre = Graph.copurchaseEdges(cp, m, hotDegree = hd, hubPath = "prefilter")
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          assert(pre == plain, s"prefilter m=$m hotDegree=$hd")
        }
      }
      // auto picks a hub path by minShared; either way the result is pinned
      val auto = Graph.copurchaseEdges(cp, m, hotDegree = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(auto == plain, s"auto m=$m")
    }
  }

  test("copurchaseEdges: rejects an unknown hubPath") {
    val s = spark
    import s.implicits._
    val cp = Seq((1L, 2L)).toDF("c", "p")
    intercept[IllegalArgumentException](
      Graph.copurchaseEdges(cp, 2, hubPath = "bogus"))
  }

  test("copurchaseEdges: rejects an unknown spark.graft.copurchase.forcePath") {
    val s = spark
    import s.implicits._
    val cp = Seq((1L, 10L), (2L, 10L), (1L, 11L), (2L, 11L), (3L, 11L)).toDF("c", "p")
    val key = "spark.graft.copurchase.forcePath"
    try {
      spark.conf.set(key, "prefliter")
      val e = intercept[IllegalArgumentException](Graph.copurchaseEdges(cp, 2))
      assert(e.getMessage.contains("prefliter") && e.getMessage.contains("prefilter"))
      spark.conf.set(key, "prefilter")
      assert(Graph.copurchaseEdges(cp, 2).as[(Long, Long)].collect().toSeq == Seq((1L, 2L)))
    } finally spark.conf.unset(key)
  }

  test("zOrderKey: exact bit interleave on known values") {
    val s = spark
    import s.implicits._
    // x=0b101 (5), y=0b011 (3) at 3 bits -> z = interleave(x,y) = 0b100111 = 39
    val df = Seq((5L, 3L)).toDF("x", "y")
    val z = df.select(SkewLayout.zOrderKey(col("x"), col("y"), 3).as("z"))
      .head().getLong(0)
    assert(z == 39L)
    // locality: adjacent cells differ in low bits only
    val z2 = Seq((5L, 2L)).toDF("x", "y")
      .select(SkewLayout.zOrderKey(col("x"), col("y"), 3).as("z")).head().getLong(0)
    assert((z ^ z2) == 1L) // y 3->2 flips only bit 0
  }

  test("quantize: range endpoints land in first and last cell, monotone") {
    val s = spark
    import s.implicits._
    val df = Seq(0.0, 2.5, 5.0, 7.5, 10.0).toDF("v")
    val q = df.select(SkewLayout.quantize(col("v"), lit(0.0), lit(10.0), 2).as("q"))
      .collect().map(_.getLong(0)).toSeq
    assert(q == Seq(0L, 0L, 1L, 2L, 3L))
  }

  test("pageRank: hand-computed one-round values on a 3-node chain") {
    val s = spark
    import s.implicits._
    // a -> b, a -> c, b -> c ; scale 100, one iteration
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val r = Graph.pageRank(edges, iters = 1, scale = 100L)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // base = 15; a: no inbound -> 15; b: 85*(100/2)//100 = 42 -> 57
    // c: inbound a (50) + b (100) -> 85*150//100 = 127 -> 142
    assert(r == Map(1L -> 15L, 2L -> 57L, 3L -> 142L))
  }

  test("pageRank: partitioning-invariant (integer arithmetic has no merge order)") {
    val s = spark
    import s.implicits._
    val edges = (1L to 60L).map(i => (i % 7, i % 11)).filter(e => e._1 != e._2)
      .toDF("src", "dst")
    def run(parts: Int) =
      Graph.pageRank(edges.repartition(parts), iters = 4)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(run(1) == run(13))
  }

  test("pageRank: rejects out-of-range iteration counts") {
    val s = spark
    import s.implicits._
    val e = Seq((1L, 2L)).toDF("src", "dst")
    intercept[IllegalArgumentException](Graph.pageRank(e, iters = 0))
    intercept[IllegalArgumentException](Graph.pageRank(e, iters = 51))
  }

  test("triangles: K4 plus a pendant edge, mixed orientation and duplicates") {
    val s = spark
    import s.implicits._
    // K4 on 1-4 given with reversed and duplicated edges, plus edge 5-6
    val edges = Seq(
      (1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (3L, 2L), (2L, 4L), (3L, 4L),
      (3L, 4L), (5L, 6L), (5L, 5L), // self-loop must be ignored
    ).toDF("src", "dst")
    val r = Graph.triangles(edges).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    // K4 has 4 triangles; each of its nodes sits in C(3,2) = 3 of them
    assert(r == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 0L, 6L -> 0L))
  }

  test("triangles: triangle-free path graph counts zero everywhere") {
    val s = spark
    import s.implicits._
    val edges = (1L to 9L).map(i => (i, i + 1)).toDF("src", "dst")
    val r = Graph.triangles(edges).collect().map(x => x.getLong(1))
    assert(r.length == 10 && r.forall(_ == 0L))
  }

  test("triangles: degree-oriented counts equal naive a<b<c enumeration") {
    val s = spark
    import s.implicits._
    // deterministic pseudo-random graph with hubs (i%5 collides often)
    val edges = (1L to 300L).map(i => ((i * 37) % 23, (i * i) % 19 + (i % 5) * 4))
      .filter(e => e._1 != e._2).toDF("src", "dst")
    val got = Graph.triangles(edges).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val und = edges.select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .filter($"a" =!= $"b").distinct()
    val naive = und.as("e1")
      .join(und.as("e2"), col("e1.b") === col("e2.a"))
      .join(und.as("e3"), col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .select(explode(array(col("e1.a"), col("e1.b"), col("e2.b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got.filter(_._2 > 0L) == naive)
    assert(got.values.sum == naive.values.sum)
  }
}
