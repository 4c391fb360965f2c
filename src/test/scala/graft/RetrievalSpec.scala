package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Retrieval, Similarity, TextDedup}
import graft.tables.Tables

/** Hybrid RRF retrieval: fusion math on a hand-computable fixture, and
  * the two-phase lexical top-K against its naive single-window twin. */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  // query id 0 satisfies Similarity.isQueryId; ShingleN = 3 shingles
  private def fixtureDocs = Seq(
    (0L, "a b c d e f", "en", "s1"),   // the query document
    (1L, "a b c d e f", "en", "s1"),   // exact lexical twin (jaccard 1)
    (2L, "a b c d x y", "en", "s1"),   // partial overlap (inter 2 of 6)
    (3L, "p q r s t u", "en", "s1")    // no shared shingle -> no lex row
  ).toDF("doc_id", "text", "lang", "source")

  private def fixtureEmb = Seq(
    (0L, Seq(1.0f, 0.0f), 0),          // the query vector
    (1L, Seq(0.8f, 0.6f), 0),          // cosine 0.8 -> sem rank 2
    (2L, Seq(1.0f, 0.0f), 0),          // cosine 1.0 -> sem rank 1
    (3L, Seq(0.0f, 1.0f), 0)           // cosine 0.0 -> sem rank 3
  ).toDF("vec_id", "embedding", "label")

  test("hybrid RRF: rank lists fuse by 1/(k+rank), absent list adds 0") {
    val out = Retrieval.hybridRrf(fixtureDocs, fixtureEmb)
    val rows = out.orderBy(col("query_id"), col("rrf").desc, col("doc_id"))
      .as[(Long, Long, Option[Long], Option[Long], Double)].collect().toSeq
    val k = Retrieval.RrfK.toDouble
    def rrf(l: Option[Int], s: Option[Int]): Double =
      l.map(r => 1.0 / (k + r)).getOrElse(0.0) +
        s.map(r => 1.0 / (k + r)).getOrElse(0.0)
    // doc1 (lex 1, sem 2) and doc2 (lex 2, sem 1) tie exactly -> doc_id
    // breaks it; doc3 rides the semantic list only
    assert(rows === Seq(
      (0L, 1L, Some(1L), Some(2L), rrf(Some(1), Some(2))),
      (0L, 2L, Some(2L), Some(1L), rrf(Some(2), Some(1))),
      (0L, 3L, None, Some(3L), rrf(None, Some(3)))))
  }

  test("two-phase lexical top-K equals the naive single-window ranking") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val sets = docs.select(col("doc_id"),
        call_function("hashed_shingle_set", col("text"), lit(TextDedup.ShingleN)).as("hs"))
      .withColumn("sz", size(col("hs")).cast("long"))
      .where(col("sz") > 0L)
    val queries = sets.filter(Similarity.isQueryId(col("doc_id")))
      .select(col("doc_id").as("query_id"), col("hs").as("qh"), col("sz").as("qsz"))
    val naive = sets.crossJoin(broadcast(queries))
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("inter",
        call_function("sorted_intersect_size", col("qh"), col("hs")).cast("long"))
      .where(col("inter") > 0L)
      .withColumn("jaccard", col("inter").cast("double") /
        (col("qsz") + col("sz") - col("inter")).cast("double"))
      .withColumn("lex_rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("jaccard").desc, col("doc_id"))).cast("long"))
      .where(col("lex_rk") <= Retrieval.ListK)
      .select(col("query_id"), col("doc_id"), col("lex_rk"))
      .orderBy(col("query_id"), col("lex_rk"))
      .collect().toSeq
    val twoPhase = Retrieval.lexicalTopK(docs)
      .orderBy(col("query_id"), col("lex_rk")).collect().toSeq
    assert(naive.nonEmpty, "fixture produced no lexical candidates")
    assert(twoPhase === naive)
  }

  test("fused output is bounded at FuseK per query and ordered by rrf") {
    val out = Retrieval.qHybridRrf(spark, sf("sf0.001"))
      .select(col("query_id"), col("rrf")).as[(Long, Double)].collect().toSeq
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (_, g) =>
      assert(g.size <= Retrieval.FuseK)
      assert(g.map(_._2) === g.map(_._2).sorted(Ordering[Double].reverse))
    }
  }

  test("property: hybrid fusion equals an independent driver-side reference") {
    // full re-derivation with NO shared code: tokenize/md5-shingle,
    // cosine, both rankings, and the fusion arithmetic are reimplemented
    // from their published definitions and compared bit-for-bit
    // (doubles included) on random corpora
    def shingleSet(text: String): Set[Int] = {
      val toks = text.split("\\s+").filter(_.nonEmpty)
      (0 to toks.length - TextDedup.ShingleN).map { i =>
        val s = toks.slice(i, i + TextDedup.ShingleN).mkString(" ")
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8"))
        ((d(0) & 0xff) << 8) | (d(1) & 0xff)
      }.toSet
    }
    def cosine(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed * 104729)
      val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
      val n = 12 + rnd.nextInt(10)
      val docRows = (0L until n.toLong).map { i =>
        (i, Seq.fill(3 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" "), "en", "s1")
      }
      val embRows = (0L until n.toLong).map { i =>
        (i, Seq.fill(4)(rnd.nextFloat() * 2 - 1), 0)
      }
      // with n < 100 the deterministic query set is exactly id 0
      val q = 0L
      val qSet = shingleSet(docRows(q.toInt)._2)
      val lexRanked = docRows.filter(_._1 != q).flatMap { case (id, t, _, _) =>
        val s = shingleSet(t)
        val inter = (qSet & s).size
        if (inter > 0)
          Some((id, inter.toDouble / (qSet.size + s.size - inter)))
        else None
      }.sortBy { case (id, j) => (-j, id) }
        .take(Retrieval.ListK).zipWithIndex
        .map { case ((id, _), i) => id -> (i + 1L) }.toMap
      val qv = embRows(q.toInt)._2
      val semRanked = embRows.filter(_._1 != q)
        .map { case (id, v, _) => (id, cosine(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }
        .take(Retrieval.ListK).zipWithIndex
        .map { case ((id, _), i) => id -> (i + 1L) }.toMap
      val want = (lexRanked.keySet ++ semRanked.keySet).toSeq.map { id =>
        val rrf = lexRanked.get(id).map(r => 1.0 / (Retrieval.RrfK + r))
          .getOrElse(0.0) +
          semRanked.get(id).map(r => 1.0 / (Retrieval.RrfK + r)).getOrElse(0.0)
        (q, id, lexRanked.get(id), semRanked.get(id), rrf)
      }.sortBy { case (_, id, _, _, rrf) => (-rrf, id) }
        .take(Retrieval.FuseK)
      val got = Retrieval.hybridRrf(
          docRows.toDF("doc_id", "text", "lang", "source"),
          embRows.toDF("vec_id", "embedding", "label"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .as[(Long, Long, Option[Long], Option[Long], Double)]
        .collect().toSeq
      assert(got === want, s"seed $seed diverged from the reference")
    }
  }

  test("IVF-backed hybrid keeps fused-list recall against the exact hybrid") {
    // the scale path trades the exact semantic scan for the multi-probe
    // IVF index; the fused top-FuseK must stay close to the exact
    // fusion. Measured on the fixtures: 0.84 (sf0.001) / 0.80 (sf0.01)
    // — the floor leaves slack for fixture regeneration, and a drop
    // below it means the index (or the fusion) broke, not noise (both
    // sides are fully deterministic).
    val dir = sf("sf0.001")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "doc_id")
        .as[(Long, Long)].collect().toSet
    val exact = pairs(Retrieval.qHybridRrf(spark, dir))
    val ivf = pairs(Retrieval.qHybridIvf(spark, dir))
    assert(exact.nonEmpty && ivf.nonEmpty)
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.6, s"fused recall $recall fell below the contract")
  }

  test("context assembly admits in MMR order, keeps the boundary doc, then stops") {
    // anchor 0 with three candidates whose MMR order is their rel
    // order (mutually near-orthogonal, so diversity never reorders)
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.9f, 0.1f, 0f, 0f)),  // rank 1
      (2L, Array(0.5f, 0f, 0.6f, 0f)),  // rank 2
      (3L, Array(0.3f, 0f, 0f, 0.8f)))  // rank 3
      .toDF("vec_id", "embedding")
    def docOf(id: Long, n: Int) = (id, (1 to n).map("t" + _).mkString(" "))
    val docs = Seq(docOf(0L, 1), docOf(1L, 50), docOf(2L, 40), docOf(3L, 30))
      .toDF("doc_id", "text")
    def got(budget: Long) =
      Retrieval.contextAssembly(docs, emb, budget)
        .orderBy("mmr_rank")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // budget 96: cum_before = 0, 50, 90 — all admitted (90 < 96, the
    // boundary doc 3 overshoots to 120 and is KEPT)
    assert(got(96L).map(r => (r._3, r._4, r._5)) ===
      Seq((1L, 50L, 50L), (2L, 40L, 90L), (3L, 30L, 120L)))
    // budget 80: doc 3's prior total 90 >= 80 — cut
    assert(got(80L).map(_._3) === Seq(1L, 2L))
    // budget 1: the first doc always lands (0 < budget)
    assert(got(1L).map(_._3) === Seq(1L))
  }

  test("every window in the hybrid plan is partitioned (no global-order funnel)") {
    val plan = Retrieval.qHybridRrf(spark, sf("sf0.001"))
      .queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"unpartitioned window in hybrid plan: $w"))
  }
}
