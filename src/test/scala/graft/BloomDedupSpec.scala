package graft

import org.apache.spark.sql.functions._
import graft.operators.BloomDedup

class BloomDedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("bloomWords sets exactly the probed bits of each indexed hash") {
    // one hash → exactly `probes` positions (or fewer on collisions);
    // recompute the expected positions with the same Column arithmetic
    // and compare bit-for-bit against the built filter
    val one = docs((1L, "hello bloom world"))
      .select(md5(col("text")).as("h"))
    val words = BloomDedup.bloomWords(one, "h", bits = 1 << 10, probes = 4)
    val expected = one.select(
      (0 until 4).map(j =>
        pmod(conv(substring(col("h"), 1, 15), 16, 10).cast("long")
            + lit(j.toLong)
            * conv(substring(col("h"), 17, 15), 16, 10).cast("long").bitwiseOR(1L),
          lit(1024L)).as(s"p$j")): _*).head()
    val positions = (0 until 4).map(expected.getLong)
    val manual = new Array[Long](1024 / 64)
    positions.foreach(p => manual((p >> 6).toInt) |= (1L << (p & 63)))
    assert(words.toSeq === manual.toSeq)
    assert(words.map(java.lang.Long.bitCount).sum === positions.distinct.size)
  }

  test("mightContain has no false negatives over a random corpus") {
    val corpus = (1L to 200L).map(i => (i, s"document number $i with body"))
    val idx = docs(corpus: _*).select(md5(col("text")).as("h"))
    val words = BloomDedup.bloomWords(idx, "h")
    val misses = idx.filter(!BloomDedup.mightContain(words, col("h"))).count()
    assert(misses === 0L)
  }

  test("bloomNewDocs equals the plain anti-join (new kept, dup dropped)") {
    val index = docs((1L, "alpha text"), (2L, "beta text"), (3L, "gamma text"))
    val inc = docs((10L, "beta text"), (11L, "fresh document"),
      (12L, "another fresh one"))
    val out = BloomDedup.bloomNewDocs(inc, index)
    assert(out.columns.toSeq === Seq("doc_id", "text_hash"))
    assert(out.select("doc_id").as[Long].collect().toSet === Set(11L, 12L))
  }

  test("a null text in the index neither crashes the build nor changes the answer") {
    // md5(NULL) is NULL: the filter build must drop it (a NULL probe
    // group key would blow up the word-index read), and null-text rows
    // can't match any increment text, so the result is unchanged
    val index = Seq((1L, "alpha text"), (2L, null.asInstanceOf[String]),
      (3L, "gamma text")).toDF("doc_id", "text")
    val inc = docs((10L, "gamma text"), (11L, "fresh document"))
    val out = BloomDedup.bloomNewDocs(inc, index)
      .select("doc_id").as[Long].collect().toSet
    assert(out === Set(11L))
  }

  test("result stays exact under a saturated filter (false positives verified away)") {
    // 64 bits / 1 probe over 300 index docs saturates the filter, so
    // nearly every increment row is bloom-positive — the exact
    // anti-join must still remove every false positive
    val index = docs((1L to 300L).map(i => (i, s"indexed page $i")): _*)
    val inc = docs(((301L to 350L).map(i => (i, s"new page $i"))
      :+ (999L, "indexed page 7")): _*)
    val out = BloomDedup.bloomNewDocs(inc, index, bits = 64, probes = 1)
      .select("doc_id").as[Long].collect().toSet
    assert(out === (301L to 350L).toSet)
  }

  test("bloom-negative rows bypass the join; only positives reach it") {
    // disjoint corpora with the default filter: dup rate 1 planted doc;
    // the pre-join split must route (deterministically, md5 is fixed)
    // almost all increment rows around the join
    val index = docs((1L to 100L).map(i => (i, s"standing corpus doc $i")): _*)
    val idxHash = index.select(md5(col("text")).as("text_hash"))
    val words = BloomDedup.bloomWords(idxHash, "text_hash")
    val inc = docs(((101L to 200L).map(i => (i, s"snapshot doc $i"))
      :+ (777L, "standing corpus doc 42")): _*)
      .select(col("doc_id"), md5(col("text")).as("text_hash"))
    val positive = inc
      .filter(BloomDedup.mightContain(words, col("text_hash"))).count()
    // exactly the planted dup (fp odds at m=65536,k=4,n=100 ≈ 1e-10)
    assert(positive === 1L)
  }

  test("q_bloom_dedup plan: broadcast anti-joins only on the bloom-positive branches") {
    val df = SparkEntry.queries("q_bloom_dedup")(spark, sfSmoke)
    val plan = df.queryExecution.executedPlan.toString
    // Catalyst pushes the single authored anti-join through the
    // increment's two-branch union (original ∪ recrawl), so each branch
    // carries its own BroadcastHashJoin against the one broadcast index
    // — while the two bloom-negative branches join nothing at all
    val antiJoins = "LeftAnti".r.findAllIn(plan).size
    assert(antiJoins === 2, s"expected the per-branch pushed anti-joins:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size === 2)
    assert(plan.contains("Union"))
    assert(!plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoopJoin"))
  }
}
