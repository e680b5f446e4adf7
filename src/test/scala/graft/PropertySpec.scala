package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.operators.Relational

/** Scalacheck property layer (SURVEY §5 layer 4): operator invariants
  * over generated inputs, driven through Spark itself (small literal
  * frames, many cases per property). */
class PropertySpec extends SparkSpec {

  private def check(prop: Prop, cases: Int = 30): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(cases), prop)
    assert(res.passed, res.status.toString)
  }

  test("argmaxFields returns a field holding the row maximum; ties → first in order") {
    import spark.implicits._
    val rowGen = Gen.listOfN(4, Gen.choose(-100L, 100L)).map {
      case List(a, b, c, d) => (a, b, c, d)
    }
    check(Prop.forAll(Gen.listOfN(8, rowGen)) { rows =>
      rows.isEmpty || {
        val fields = Seq("a", "b", "c", "d")
        val got = rows.toDF("a", "b", "c", "d")
          .withColumn("am", Relational.argmaxFields(fields))
          .collect()
        got.forall { r =>
          val vals = fields.map(f => r.getAs[Long](f))
          val winner = r.getAs[String]("am")
          val winnerVal = r.getAs[Long](winner)
          winnerVal == vals.max &&
            fields.indexOf(winner) == vals.indexOf(vals.max)
        }
      }
    }, cases = 15)
  }

  test("dedupLatest keeps exactly one max-order row per key; count == distinct keys") {
    import spark.implicits._
    val rowGen = for {
      k <- Gen.choose(0, 5); v <- Gen.choose(0, 50); id <- Gen.choose(0, 1000)
    } yield (k, v, id)
    check(Prop.forAll(Gen.nonEmptyListOf(rowGen)) { rows =>
      val df = rows.toDF("k", "v", "id")
      val kept = Relational.dedupLatest(df, Seq("k"),
        Seq(col("v").desc, col("id").desc)).collect()
      val byKey = rows.groupBy(_._1)
      kept.length == byKey.size && kept.forall { r =>
        val (k, v) = (r.getInt(0), r.getInt(1))
        v == byKey(k).map(_._2).max
      }
    }, cases = 15)
  }

  test("TopK aggregator equals the window row_number form on random scores") {
    import spark.implicits._
    val rowGen = for {
      g <- Gen.choose(0, 3); id <- Gen.choose(0L, 50L)
      s <- Gen.choose(-1000, 1000).map(_ / 100.0)
    } yield (g, id, s)
    check(Prop.forAll(Gen.choose(1, 4), Gen.listOfN(40, rowGen)) { (k, rows) =>
      rows.isEmpty || {
        // duplicate (group, id) pairs make rank order ill-defined — drop
        val df = rows.distinctBy(r => (r._1, r._2)).toDF("g", "id", "s")
        val viaAgg = df.groupBy("g")
          .agg(graft.functions.TopK.topK(k)(col("id"), col("s")).as("nn"))
          .select(col("g"), posexplode(col("nn")).as(Seq("r0", "nb")))
          .select(col("g"), col("nb.id"), col("nb.score"), (col("r0") + 1).as("rank"))
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
          .toSet
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy(col("s").desc, col("id"))
        val viaWindow = df.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
          .toSet
        viaAgg == viaWindow
      }
    }, cases = 15)
  }

  /** Reference for [[graft.similarity.Similarity.probeClusters]]: the
    * windowed probe the IVF serves used before — posexplode the
    * centroid distances (−2·q·c + c·c), row_number per query over
    * (d, j), keep ranks ≤ nprobe. Query id → 1-based clusters in rank
    * order. */
  private def windowedProbe(queries: org.apache.spark.sql.DataFrame,
      cents: Seq[Array[Float]], nprobe: Int): Map[Long, Seq[Int]] = {
    import spark.implicits._
    val dists = array(cents.map(c => lit(-2.0) *
      graft.similarity.Similarity.dot(col("qv"), lit(c)) +
      lit(c.map(x => x.toDouble * x).sum)): _*)
    queries.select(col("query_id"), posexplode(dists).as(Seq("j", "d")))
      .withColumn("pr", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("d"), col("j"))))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), (col("j") + 1).cast("int"), col("pr"))
      .as[(Long, Int, Int)].collect().toSeq.groupBy(_._1)
      .map { case (id, rs) => id -> rs.sortBy(_._3).map(_._2) }
  }

  test("probeClusters equals the windowed probe, with zero queries and duplicated centroids") {
    import spark.implicits._
    // half-step grid values make equal distances common; duplicated
    // centroids and the zero query force ties the centroid index breaks
    def vec(dim: Int) = Gen.listOfN(dim,
      Gen.oneOf(Gen.choose(-4, 4).map(_ / 2.0f), Gen.choose(-1f, 1f)))
    val gen = for {
      dim <- Gen.choose(1, 6); nlist <- Gen.choose(2, 8)
      base <- Gen.listOfN(nlist, vec(dim))
      dupOf <- Gen.listOfN(nlist, Gen.option(Gen.choose(0, nlist - 1)))
      qs <- Gen.listOfN(5, vec(dim))
    } yield {
      val cents = base.indices.map(i => base(dupOf(i).getOrElse(i)).toArray)
      (cents, (List.fill(dim)(0f) :: qs).map(_.toArray))
    }
    check(Prop.forAll(gen) { case (cents, qs) =>
      val nlist = cents.length
      val q = qs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("query_id", "qv")
      Seq(1, nlist / 2, nlist, nlist + 3).forall { nprobe =>
        val got = q.select(col("query_id"), graft.similarity.Similarity
            .probeClusters(col("qv"), cents, nprobe))
          .as[(Long, Seq[Int])].collect().toMap
        got == windowedProbe(q, cents, nprobe) &&
          got.values.forall(_.length == math.min(nprobe, nlist))
      }
    }, cases = 15)
  }

  test("degree tables sum to edge count; union preserves total rows") {
    import spark.implicits._
    val edgeGen = for {
      s <- Gen.choose(0L, 8L); d <- Gen.choose(10L, 18L)
    } yield (s, d)
    check(Prop.forAll(Gen.nonEmptyListOf(edgeGen)) { edges =>
      val e = edges.toDF("src", "dst")
      val g = graft.graph.PropertyGraph(
        e.select(col("src").as("id")).unionAll(e.select(col("dst").as("id"))).distinct(),
        e)
      val outSum = g.outDegrees.agg(sum("outDegree")).head().getLong(0)
      val inSum = g.inDegrees.agg(sum("inDegree")).head().getLong(0)
      outSum == edges.length && inSum == edges.length
    }, cases = 10)

    check(Prop.forAll(
      Gen.listOf(Gen.alphaStr.map(_.take(5))),
      Gen.listOf(Gen.alphaStr.map(_.take(5)))) { (a, b) =>
      val ta = a.toDF("v"); val tb = b.toDF("v")
      Relational.unionTagged(ta, "A", tb, "B").count() == a.size + b.size
    }, cases = 10)
  }

  test("quantizeInt8: per-element error ≤ scale/2, q bounded, roundtrip on arbitrary floats") {
    import spark.implicits._
    val vecGen = Gen.nonEmptyListOf(Gen.chooseNum(-100f, 100f))
    check(Prop.forAll(Gen.nonEmptyListOf(vecGen)) { vecs =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
        .toDF("vec_id", "embedding")
      val got = graft.similarity.Similarity
        .quantizeInt8(df, "vec_id", "embedding")
        .select("vec_id", "scale", "q", "v")
        .as[(Long, Double, Seq[Int], Seq[Double])].collect()
      got.forall { case (_, scale, q, v) =>
        q.forall(x => x >= -127 && x <= 127) &&
          v.zip(q).forall { case (x, qi) =>
            math.abs(x - qi * scale) <= scale / 2 + 1e-9 }
      }
    }, cases = 10)
  }

  test("shuffleShards is a bijection: every id exactly once, dense per-shard positions") {
    import spark.implicits._
    val idsGen = Gen.nonEmptyListOf(Gen.choose(0L, 5000L)).map(_.distinct)
    check(Prop.forAll(idsGen, Gen.choose(1, 12)) { (ids, nShards) =>
      val got = graft.text.Sampling
        .shuffleShards(ids.toDF("id"), "id", nShards, "prop")
        .select("id", "shard", "pos").as[(Long, Int, Int)].collect()
      got.length == ids.length &&
        got.map(_._1).toSet == ids.toSet &&
        got.forall { case (_, s, _) => s >= 0 && s < nShards } &&
        got.groupBy(_._2).values.forall(g =>
          g.map(_._3).sorted.toSeq == (1 to g.length))
    }, cases = 10)
  }

  test("decontaminate partitions the corpus: kept ∪ flagged == corpus, disjoint") {
    import spark.implicits._
    val word = Gen.oneOf("ax", "bx", "cx", "dx", "ex", "fx")
    val docGen = Gen.listOfN(6, word).map(_.mkString(" "))
    check(Prop.forAll(Gen.nonEmptyListOf(docGen), Gen.nonEmptyListOf(docGen)) {
      (corpusTexts, benchTexts) =>
        val corpus = corpusTexts.zipWithIndex
          .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        val bench = benchTexts.zipWithIndex
          .map { case (t, i) => (i.toLong + 1000, t) }.toDF("doc_id", "text")
        val flagged = graft.dedup.Dedup
          .contaminatedIds(corpus, bench, "doc_id", "text", n = 3)
          .as[Long].collect().toSet
        val kept = graft.dedup.Dedup
          .decontaminate(corpus, bench, "doc_id", "text", n = 3)
          .select("doc_id").as[Long].collect().toSet
        val all = corpusTexts.indices.map(_.toLong).toSet
        (kept union flagged) == all && (kept intersect flagged).isEmpty
    }, cases = 10)
  }

  test("histogramQuantiles brackets the exact order statistic within one bucket") {
    import spark.implicits._
    val valGen = Gen.choose(0L, 500L)
    check(Prop.forAll(Gen.nonEmptyListOf(valGen), Gen.choose(1, 5)) {
      (vals, w10) =>
        val width = w10 * 10
        val df = vals.map(("g", _)).toDF("source", "n")
        val got = graft.text.Sketches.histogramQuantiles(df, "source",
            col("n"), width, qs = Seq(0.5, 0.9))
          .select("q", "bucket_lo").as[(Double, Long)].collect().toMap
        val sorted = vals.sorted
        Seq(0.5, 0.9).forall { q =>
          // the estimate's bucket must CONTAIN the exact ceil(q·n)-th
          // order statistic — the sketch's whole accuracy contract
          val exact = sorted(math.ceil(q * vals.size).toInt - 1)
          val lo = got(q)
          lo <= exact && exact < lo + width
        }
    }, cases = 20)
  }

  test("cmsCells is mergeable: cells(A ++ B) == cellwise sum of cells(A), cells(B)") {
    import spark.implicits._
    val tok = Gen.oneOf("aa", "bb", "cc", "dd", "ee")
    def cellsOf(toks: List[String]): Map[(Int, Int), Long] =
      if (toks.isEmpty) Map.empty
      else graft.text.Sketches.cmsCells(toks.toDF("tok"), "tok", d = 3, w = 8)
        .select("r", "c", "cell_cnt").as[(Int, Int, Long)].collect()
        .map { case (r, c, n) => (r, c) -> n }.toMap
    check(Prop.forAll(Gen.listOf(tok), Gen.listOf(tok)) { (a, b) =>
      val merged = (cellsOf(a).toSeq ++ cellsOf(b).toSeq)
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      cellsOf(a ++ b) == merged
    }, cases = 15)
  }
}
