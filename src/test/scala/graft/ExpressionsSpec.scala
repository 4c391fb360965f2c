package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.functions._
import graft.operators.TextDedup

/** Native expressions must be bit-identical to their built-in spellings
  * — that equivalence is what keeps the DuckDB oracle honest. */
class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private val texts = Gen.listOfN(40, Gen.oneOf(
    "the", "a", "cat", "sat", "on", "mat", "dog", "ran", "", " ")).map(_.mkString(" "))

  test("hashed_shingle_set == array_sort(array_distinct(transform(shingles, md5Bits16)))") {
    val df = samples(texts).toDF("t")
    val rows = df.select(
      call_function("hashed_shingle_set", col("t"), lit(3)).as("native"),
      array_sort(array_distinct(transform(shingles(col("t"), 3), x => md5Bits16(x))))
        .as("builtin"))
      .as[(Seq[Int], Seq[Int])].collect()
    rows.foreach { case (native, builtin) => assert(native === builtin) }
  }

  test("simhash60 == the 60-lambda aggregate spelling over 60-bit hashes") {
    val df = samples(texts).toDF("t")
    val hs = transform(tokens(col("t")),
      s => conv(substring(md5(s), 1, 15), 16, 10).cast("long"))
    val rows = df.select(
      call_function("simhash60", col("t")).as("native"),
      TextDedup.simhash60FromHashes(hs).as("builtin"))
      .as[(Long, Long)].collect()
    rows.foreach { case (native, builtin) => assert(native === builtin) }
  }

  test("shingle_pos_hashes == transform(shingles, conv(md5-prefix)) in order") {
    // positional (no distinct, no sort) 60-bit md5 prefix — the value
    // the DuckDB oracle rebuilds with hex-nibble arithmetic
    val df = samples(texts).toDF("t")
    val rows = df.select(
      call_function("shingle_pos_hashes", col("t"), lit(3)).as("native"),
      transform(shingles(col("t"), 3),
        s => conv(substring(md5(s), 1, 15), 16, 10).cast("long")).as("builtin"))
      .as[(Seq[Long], Seq[Long])].collect()
    rows.foreach { case (native, builtin) => assert(native === builtin) }
  }

  test("sorted_intersect_size == set intersection size on sorted distinct arrays") {
    val gen = Gen.listOf(Gen.choose(0, 50)).map(_.distinct.sorted)
    val pairs = samples(Gen.zip(gen, gen), 50)
    val rows = pairs.toDF("a", "b")
      .select(col("a"), col("b"),
        call_function("sorted_intersect_size", col("a"), col("b")).as("n"))
      .as[(Seq[Int], Seq[Int], Int)].collect()
    rows.foreach { case (a, b, n) => assert(n === a.toSet.intersect(b.toSet).size) }
  }

  test("minhash_signature == K x linear-permutation minimum, empties -> nulls") {
    import TextDedup._
    val gen = Gen.listOf(Gen.choose(0, 0xffff)).map(_.distinct.sorted)
    val rows = samples(gen, 50).toDF("hs")
      .select(col("hs"), call_function("minhash_signature", col("hs")).as("sig"))
      .as[(Seq[Int], Seq[Option[Int]])].collect()
    rows.foreach { case (hs, native) =>
      val expected =
        if (hs.isEmpty) Seq.fill(NumHashes)(None)
        else (0 until NumHashes).map(k =>
          Some(hs.map(h => (h * permA(k) + permB(k)) % MinhashMod).min))
      assert(native === expected)
    }
  }

  test("simhash16 == the 16-lambda aggregate spelling over hashed tokens") {
    val df = samples(texts).toDF("t")
    val rows = df.select(
      call_function("simhash16", col("t")).as("native"),
      TextDedup.simhashFromHashes(
        transform(tokens(col("t")), x => md5Bits16(x))).as("builtin"))
      .as[(Long, Long)].collect()
    rows.foreach { case (native, builtin) => assert(native === builtin) }
    // null text -> null, not a crash or 0
    val n = Seq[(Option[String], Int)]((None, 1)).toDF("t", "i")
      .select(call_function("simhash16", col("t"))).collect().head
    assert(n.isNullAt(0))
  }

  test("native kernel parity holds on unicode (multibyte + astral) tokens") {
    // é (2 UTF-8 bytes), 中 (3), 𝄞 (4, astral — 2 UTF-16 units, 1 code
    // point: exercises codePointCount vs length()), plus whitespace runs
    val utexts = Gen.listOfN(12, Gen.oneOf(
      "é", "中文", "𝄞clef", "naïve", "  ", "the", "ß")).map(_.mkString(" "))
    val df = samples(utexts).toDF("t")
    val rows = df.select(
      call_function("simhash16", col("t")).as("sh"),
      TextDedup.simhashFromHashes(
        transform(tokens(col("t")), x => md5Bits16(x))).as("sh_ref"),
      call_function("rolling_fingerprint", col("t")).as("fp"),
      graft.operators.TextStats.fingerprint(col("t")).as("fp_ref"),
      graft.operators.TextStats.tokenProfile(col("t"), Seq("中文", "é"))
        .getField("hits").as("h"),
      graft.operators.TextStats.hitCount(col("t"), Seq("中文", "é")).as("h_ref"),
      graft.operators.TextStats.tokenProfile(col("t"), Nil)
        .getField("sum_len").as("sl"),
      aggregate(tokens(col("t")), lit(0), (acc, x) => acc + length(x)).as("sl_ref"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(0) === r.getLong(1), "simhash16 unicode divergence")
      assert(r.getLong(2) === r.getLong(3), "fingerprint unicode divergence")
      assert(r.getInt(4) === r.getInt(5), "hits unicode divergence")
      assert(r.getInt(6) === r.getInt(7), "sum_len unicode divergence")
    }
  }

  test("rolling_fingerprint == the aggregate(pmod) spelling") {
    import graft.operators.TextStats
    val df = samples(texts).toDF("t")
    val rows = df.select(
      call_function("rolling_fingerprint", col("t")).as("native"),
      TextStats.fingerprint(col("t")).as("builtin"))
      .as[(Long, Long)].collect()
    rows.foreach { case (native, builtin) => assert(native === builtin) }
  }

  test("token_profile == (size(tokens), aggregate-length, hitCount) spellings") {
    import graft.operators.TextStats
    val words = Seq("the", "cat", "zebra")
    val df = samples(texts).toDF("t")
    val rows = df.select(
      TextStats.tokenProfile(col("t"), words).as("p"),
      size(tokens(col("t"))).as("n"),
      aggregate(tokens(col("t")), lit(0), (acc, x) => acc + length(x)).as("s"),
      TextStats.hitCount(col("t"), words).as("h"))
      .select(col("p.n_tokens"), col("p.sum_len"), col("p.hits"),
        col("n"), col("s"), col("h"))
      .as[(Int, Int, Int, Int, Int, Int)].collect()
    rows.foreach { case (pn, ps, ph, n, s, h) =>
      assert(pn === n); assert(ps === s); assert(ph === h)
    }
    // empty word list -> zero hits; null text -> null struct; a null
    // word in the list never matches (built-in equality is null there)
    val edge = Seq(("the cat", Some(1)), (null, None))
      .toDF("t", "tag")
      .select(TextStats.tokenProfile(col("t"), Nil).as("p0"),
        call_function("token_profile", col("t"),
          array(lit(null).cast("string"), lit("the"))).as("p1"),
        col("tag"))
      .collect()
    val ok = edge.find(!_.isNullAt(2)).get
    assert(ok.getStruct(0).getInt(2) === 0)
    assert(ok.getStruct(1).getInt(2) === 1) // only "the" matches
    val nul = edge.find(_.isNullAt(2)).get
    assert(nul.isNullAt(0) && nul.isNullAt(1))
  }

  test("cosine_sim is bitwise-identical to the aggregate(zip_with) spelling") {
    val vec = Gen.listOfN(16, Gen.chooseNum(-1.0f, 1.0f))
    val pairs = samples(Gen.zip(vec, vec), 50)
    val rows = pairs.toDF("a", "b")
      .select(
        call_function("cosine_sim", col("a"), col("b")).as("native"),
        // the HOF spelling from graft.functions IS the reference
        // implementation the native expression must reproduce bitwise
        cosineSim(col("a"), col("b")).as("builtin"))
      .as[(Double, Double)].collect()
    rows.foreach { case (native, builtin) =>
      assert(java.lang.Double.doubleToLongBits(native) ===
        java.lang.Double.doubleToLongBits(builtin))
    }
  }

  test("cosine_sim nulls on length mismatch or null elements; codegen runs") {
    val df = Seq(
      (Seq(1f, 0f), Seq(1f, 0f, 0f)),           // length mismatch
      (Seq(1f, 0f), Seq(1f, 0f))                 // fine
    ).toDF("a", "b")
    val out = df.select(call_function("cosine_sim", col("a"), col("b")))
      .as[Option[Double]].collect()
    assert(out(0).isEmpty && out(1).contains(1.0))
    // null element propagates (matches zip_with's null product)
    val withNull = spark.sql(
      "SELECT cosine_sim(array(CAST(1 AS FLOAT), NULL), array(CAST(1 AS FLOAT), CAST(1 AS FLOAT))) v")
      .as[Option[Double]].collect()
    assert(withNull(0).isEmpty)
  }

  test("sorted_intersect_size participates in codegen (no fallback failure)") {
    val df = (1 to 100).map(i => (Seq(i, i + 1, i + 2), Seq(i + 1, i + 2, i + 3)))
      .toDF("a", "b")
    val out = df.select(call_function("sorted_intersect_size", col("a"), col("b")))
      .as[Int].collect()
    assert(out.forall(_ == 2))
  }

  test("deflate_ratio: monotone over redundancy, bounded, empty=1, null=null") {
    val repetitive = ("spam " * 200).trim
    val prose = "the quick brown fox jumps over the lazy dog while a " +
      "farmer watches from an old wooden gate near the quiet river " +
      "bank and considers the long afternoon ahead of the harvest"
    // high-entropy input: base64 of md5 bytes — a 64-symbol alphabet
    // Huffman can't squeeze (hex's 16 symbols would compress ~2×)
    val noise = (1 to 40).map(i =>
      java.util.Base64.getEncoder.encodeToString(
        java.security.MessageDigest.getInstance("MD5")
          .digest(i.toString.getBytes))).mkString(" ")
    val vals = Seq(("rep", repetitive), ("prose", prose), ("noise", noise))
      .toDF("k", "t")
      .select(col("k"), call_function("deflate_ratio", col("t")).as("r"))
      .as[(String, Double)].collect().toMap
    assert(vals("rep") < 0.1, s"repetition should crush: ${vals("rep")}")
    assert(vals("rep") < vals("prose") && vals("prose") < vals("noise"),
      s"monotone over redundancy: $vals")
    assert(vals.values.forall(r => r > 0.0 && r < 1.2))
    val edge = spark.sql(
      "SELECT deflate_ratio(''), deflate_ratio(CAST(NULL AS STRING))")
      .collect().head
    assert(edge.getDouble(0) === 1.0)
    assert(edge.isNullAt(1))
  }

  test("trigram_counts equals the composed explode histogram; codepoint windows; null/empty tokens inert") {
    import org.apache.spark.sql.functions._
    // parity with the composed spelling langIdNgram shipped through
    // round 16 (pad → sequence → substring → explode → count), on text
    // including multi-byte and ASTRAL characters — windows must slide
    // by code point, like Spark's and DuckDB's substring
    val texts = Seq(
      (1L, Seq("hello", "world", "hello")),
      (2L, Seq("ü", "straße", "așa")),
      (3L, Seq("a😀b", "x")), // astral emoji inside a token
      (4L, Seq.empty[String]),
      (5L, Seq("", "ab")))
    val df = texts.toDF("doc_id", "toks")
    val native = df
      .select(col("doc_id"),
        explode(call_function("trigram_counts", col("toks")))
          .as(Seq("gram", "k")))
      .as[(Long, String, Long)].collect().toSet
    val composed = df
      .select(col("doc_id"), explode(col("toks")).as("_t"))
      .select(col("doc_id"), concat(lit(" "), col("_t"), lit(" ")).as("_p"))
      .filter(length(col("_p")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, length(_p) - 2), i -> substring(_p, i, 3))"))
        .as("gram"))
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("k"))
      .as[(Long, String, Long)].collect().toSet
    assert(native === composed)
    // the emoji token: " a😀b " = 5 code points -> 3 windows, each 3
    // code points long
    val emoji = native.filter(_._1 == 3L).filter(_._2.contains("😀"))
    assert(emoji.nonEmpty)
    assert(native.filter(_._1 == 3L)
      .forall(g => g._2.codePointCount(0, g._2.length) == 3))
    // null token array -> null map; null token element contributes nothing
    val edge = Seq((1L, null), (2L, Seq("ok", null)))
      .toDF("doc_id", "toks")
      .select(col("doc_id"),
        call_function("trigram_counts", col("toks")).as("m"))
      .collect()
    assert(edge(0).isNullAt(1))
    assert(edge(1).getMap[String, Long](1).size === 2) // " ok" / "ok "
  }

  test("pq_encode equals the composed explode/join/window argmin, degenerate inputs included") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // sane vectors + every degenerate shape: null embedding, zero
    // vector, null element, SHORT vector — and, because every row of
    // this tiny corpus becomes a TRAINING row, the codebook itself
    // carries null/short codewords, exercising the sentinel bake
    val sane = (0 until 6).map(i =>
      (i.toLong, Array.tabulate(64)(d => math.cos(i * 64 + d).toFloat)))
    val emb = (sane ++ Seq(
        (20L, Array.fill(64)(0f)),
        (22L, Array.tabulate(20)(d => (d + 1).toFloat))))
      .toDF("vec_id", "embedding")
      .unionByName(Seq((21L, Array[java.lang.Float](null) ++
          Array.fill(63)(java.lang.Float.valueOf(1f))))
        .toDF("vec_id", "embedding"))
      .unionByName(Seq(Tuple1(23L)).toDF("vec_id")
        .withColumn("embedding", lit(null).cast("array<float>")))
    val cb = Similarity.pqCodebook(emb)
    // composed reference: the r17 pre-expression spelling, verbatim
    val microQ = (x: org.apache.spark.sql.Column) =>
      floor(x.cast("double") * lit(1e6) + lit(0.5)).cast("long")
    val subspaces = explode(array((0 until Similarity.PqM).map { mi =>
      struct(lit(mi.toLong).as("m"),
        transform(slice(col("embedding"),
          mi * Similarity.PqSubDim + 1, Similarity.PqSubDim), microQ(_))
          .as("sv"))
    }: _*))
    val subs = emb.select(col("vec_id"), subspaces.as("sub"))
      .select(col("vec_id"), col("sub.m").as("m"), col("sub.sv").as("xq"))
    val dist = aggregate(
      zip_with(col("xq"), col("cw"), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, d) => acc + d)
    val w = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(col("dist").asc_nulls_last, col("j").asc)
    val composed = subs.join(broadcast(cb), Seq("m"))
      .withColumn("dist", dist)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .groupBy(col("vec_id"))
      .agg(transform(sort_array(collect_list(struct(col("m"), col("j")))),
        s => s.getField("j")).as("codes"))
      .as[(Long, Seq[Long])].collect().toMap
    val native = Similarity.pqEncode(emb, cb)
      .as[(Long, Seq[Long])].collect().toMap
    assert(native.keySet === ((0L until 6L).toSet ++ Set(20L, 21L, 22L, 23L)))
    // composed drops no rows here (every vector emits subspace rows);
    // codes must agree bit-for-bit on every vector, degenerate or not
    assert(composed.keySet === native.keySet)
    native.keySet.foreach { id =>
      assert(native(id) === composed(id), s"vec $id codes diverge")
    }
    // map-only claim: the native encode plans NO exchange at all
    val plan = Similarity.pqEncode(emb, cb).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"pq_encode grew a shuffle:\n$plan")
  }

  test("misra_gries SQL registration: arity and literal-type errors are clear") {
    val df = Seq(Tuple1(Seq("a", "a", "b"))).toDF("toks")
    df.createOrReplaceTempView("mg_in")
    // Long literal capacity (e.g. 64L from generated SQL) is accepted
    val viaLong = spark.sql("SELECT misra_gries(toks, 4L) AS cs FROM mg_in")
      .collect().head.getSeq[String](0)
    assert(viaLong.contains("a"))
    // one argument: a signature-naming error, not IndexOutOfBounds
    val e1 = intercept[Exception] {
      spark.sql("SELECT misra_gries(toks) FROM mg_in").collect()
    }
    assert(e1.getMessage.contains("misra_gries(array<string>, int_literal)"),
      s"unexpected: ${e1.getMessage}")
    // non-literal capacity: names the expected signature too
    val e2 = intercept[Exception] {
      spark.sql("SELECT misra_gries(toks, size(toks)) FROM mg_in").collect()
    }
    assert(e2.getMessage.contains("misra_gries(array<string>, int_literal)"),
      s"unexpected: ${e2.getMessage}")
  }
}
