package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.Events

/** Structured Streaming twin of the batch window aggregation: same
  * transform, same results — the "stream as continuously-appended
  * table" contract. */
class StreamingSpec extends SparkSpec {

  test("streaming windowed counts equal the batch query on the same data") {
    val checkpoint = Files.createTempDirectory("graft-ckpt").toString
    val stream = Events.streamingCounts(spark, sfSmoke)
    val q = stream.writeStream
      .format("memory").queryName("ev_counts")
      .outputMode("complete")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("ev_counts")
      .orderBy("window_start", "event_type").collect()
    val batch = Events.qEventsWindow(spark, sfSmoke).collect()
    assert(streamed.length > 0)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("streaming sliding counts equal the batch query; events land in 2 windows") {
    val checkpoint = Files.createTempDirectory("graft-ckpt-slide").toString
    val q = Events.streamingSlidingCounts(spark, sfSmoke).writeStream
      .format("memory").queryName("ev_sliding")
      .outputMode("complete")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("ev_sliding")
      .orderBy("window_start", "event_type").collect()
    val batch = Events.qEventsSliding(spark, sfSmoke).collect()
    assert(streamed.toSeq === batch.toSeq)
    // overlap invariant: total sliding mass = 2x the event count
    val nEvents = graft.tables.Tables.events(spark, sfSmoke).count()
    assert(batch.map(_.getLong(2)).sum === 2 * nEvents)
  }

  test("stream-stream interval join equals the batch range join's pairs") {
    import spark.implicits._
    val checkpoint = Files.createTempDirectory("graft-ckpt-ssj").toString
    val q = Events.streamingPurchaseClicks(spark, sfSmoke).writeStream
      .format("memory").queryName("ev_ssjoin")
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("ev_ssjoin")
      .as[(Long, Long)].collect().toSet
    // batch twin: the range join's matched pairs
    val ev = graft.tables.Tables.events(spark, sfSmoke)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("c_id"))
    val batch = graft.operators.AsofJoin
      .rangeJoin(purchases, clicks, "user_id", "ts", 30L * 60 * 1000000, Seq("c_id"))
      .filter(col("range_c_id").isNotNull)
      .select(col("event_id"), col("range_c_id"))
      .as[(Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("approx distinct users stays inside the HLL error envelope") {
    val rows = Events.qApproxUsers(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (approx, exact) = (r.getLong(1), r.getLong(2))
      assert(math.abs(approx - exact).toDouble / exact <= 3 * Events.ApproxRsd,
        s"${r.getString(0)}: approx=$approx exact=$exact drifts beyond 3·rsd")
    }
  }

  test("watermark bounds state: late rows beyond 2h are not re-opened in append mode") {
    // structural check: the streaming plan carries an event-time watermark
    val plan = Events.streamingCounts(spark, sfSmoke)
      .queryExecution.analyzed.toString()
    assert(plan.contains("EventTimeWatermark"))
  }

  test("stateful sessionization: streamed closed sessions == batch closed sessions") {
    import spark.implicits._
    val checkpoint = Files.createTempDirectory("graft-ckpt-sess").toString
    val q = Events.streamingSessions(spark, sfSmoke).writeStream
      .format("memory").queryName("ev_sessions")
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("ev_sessions")
      .orderBy("user_id", "session_seq").collect().toSeq
    // in a single micro-batch the stream emits every session except each
    // user's final (still-open) one
    val batch = Events.qUserSessions(spark, sfSmoke)
    val lastSeq = batch.groupBy($"user_id".as("u"))
      .agg(max($"session_seq").as("last_seq"))
    val closedBatch = batch
      .join(lastSeq, $"user_id" === $"u" && $"session_seq" === $"last_seq", "left_anti")
      .orderBy("user_id", "session_seq").collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed === closedBatch)
  }

  test("streaming dedup drops in-watermark redeliveries, keeps one copy each") {
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + min * 60000L)
    val watch = Files.createTempDirectory("graft-dedup-files")
    def writeBatch(name: String, rows: Seq[(Long, java.sql.Timestamp, Long)]): Unit = {
      val tmp = Files.createTempDirectory("graft-dedup-tmp").toString
      rows.toDF("event_id", "ts", "user_id").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, watch.resolve(name))
    }
    // batch2 redelivers event 2 (same id, in-watermark) and adds event 3
    writeBatch("b1.parquet", Seq((1L, ts(0), 10L), (2L, ts(5), 10L)))
    writeBatch("b2.parquet", Seq((2L, ts(5), 10L), (3L, ts(10), 11L)))
    val schema = spark.read.parquet(watch.toString).schema

    val checkpoint = Files.createTempDirectory("graft-ckpt-dedup").toString
    val q = Events.streamingDedup(spark, watch.toString, schema)
      .writeStream.format("memory").queryName("ev_dedup")
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val ids = spark.table("ev_dedup").select("event_id").as[Long].collect().sorted
    assert(ids === Array(1L, 2L, 3L)) // the redelivered 2 appears once
  }

  test("event-time timeout flushes open sessions as the watermark advances") {
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + min * 60000L)
    val watch = Files.createTempDirectory("graft-ev-files")
    def writeBatch(name: String, rows: Seq[(Long, java.sql.Timestamp)]): Unit = {
      val tmp = Files.createTempDirectory("graft-ev-tmp").toString
      rows.toDF("user_id", "ts").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, watch.resolve(name))
    }
    // batch1: user1 + user2 open sessions; batch2: user2 returns after a
    // 5h gap (closes their s1 in-batch), user1 goes silent; batch3: a
    // third user's late traffic advances the watermark past user1's
    // 30-min deadline -> user1's open session flushes BY TIMEOUT.
    writeBatch("b1.parquet", Seq((1L, ts(0)), (1L, ts(5)), (2L, ts(0)), (2L, ts(10))))
    writeBatch("b2.parquet", Seq((2L, ts(300))))
    writeBatch("b3.parquet", Seq((3L, ts(600))))
    val schema = spark.read.parquet(watch.toString).schema

    val checkpoint = Files.createTempDirectory("graft-ckpt-et").toString
    val q = Events.streamingSessionsEventTime(spark, watch.toString, schema)
      .writeStream.format("memory").queryName("ev_sessions_et")
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("ev_sessions_et")
      .as[Events.UserSession].collect().toSet
    def us(min: Long) = ts(min).getTime * 1000L
    assert(streamed === Set(
      // closed in-batch when user2 reappeared after the gap
      Events.UserSession(2L, 1L, us(0), us(10), 2L),
      // flushed by EventTimeTimeout (user1 never returned; watermark
      // passed their deadline) — the path the NoTimeout variant lacks
      Events.UserSession(1L, 1L, us(0), us(5), 2L),
      // user2's second session also times out once batch3's traffic
      // advances the watermark past its deadline
      Events.UserSession(2L, 2L, us(300), us(300), 1L)))
  }

  test("checkpoint restart resumes without reprocessing: exactly-once file sink") {
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + min * 60000L)
    val watch = Files.createTempDirectory("graft-restart-files")
    def writeBatch(name: String, rows: Seq[(Long, java.sql.Timestamp, Long)]): Unit = {
      val tmp = Files.createTempDirectory("graft-restart-tmp").toString
      rows.toDF("event_id", "ts", "user_id").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, watch.resolve(name))
    }
    writeBatch("b1.parquet", Seq((1L, ts(0), 10L), (2L, ts(5), 10L)))
    val schema = spark.read.parquet(watch.toString).schema
    val checkpoint = Files.createTempDirectory("graft-ckpt-restart").toString
    val out = Files.createTempDirectory("graft-restart-out").toString
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(watch.toString)
        .select(col("event_id"), col("user_id"))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    runOnce()                                   // processes b1
    writeBatch("b2.parquet", Seq((3L, ts(10), 11L)))
    runOnce()                                   // SAME checkpoint: only b2
    val ids = spark.read.parquet(out).select("event_id")
      .as[Long].collect().sorted
    // a restart that re-read b1 would duplicate ids 1 and 2
    assert(ids === Array(1L, 2L, 3L))
  }

  test("late in-watermark event never regresses an open session's bounds") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val us = (min: Long) => min * 60L * 1000000L
    val state = TestGroupState.create[Events.SessionState](
      org.apache.spark.api.java.Optional.of(Events.SessionState(1L, us(0), us(5), 2L)),
      GroupStateTimeout.NoTimeout(), 0L,
      org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    // batch 2 carries a LATE event (min 2) plus one at min 33: gap must
    // be measured from min 5, keeping the session open (28 < 30)
    val closed = Events.sessionizeGroup(1L,
      Iterator((1L, us(2)), (1L, us(33))), state).toSeq
    assert(closed.isEmpty)
    assert(state.get === Events.SessionState(1L, us(0), us(33), 4L))
  }

  test("timeout flush preserves the session counter for returning users") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val us = (min: Long) => min * 60L * 1000000L
    val state = TestGroupState.create[Events.SessionState](
      org.apache.spark.api.java.Optional.of(Events.SessionState(3L, us(0), us(5), 2L)),
      GroupStateTimeout.EventTimeTimeout(), 0L,
      org.apache.spark.api.java.Optional.of(us(500) / 1000),
      hasTimedOut = true)
    val flushed = Events.sessionizeGroupTimeout(1L, Iterator.empty, state).toSeq
    assert(flushed === Seq(Events.UserSession(1L, 3L, us(0), us(5), 2L)))
    // the idle state keeps seq=3, so the user's next session numbers 4
    // (fresh TestGroupState: hasTimedOut is fixed at construction)
    val state2 = TestGroupState.create[Events.SessionState](
      org.apache.spark.api.java.Optional.of(state.get),
      GroupStateTimeout.EventTimeTimeout(), 0L,
      org.apache.spark.api.java.Optional.of(us(500) / 1000),
      hasTimedOut = false)
    val later = new java.sql.Timestamp(us(1000) / 1000)
    val next = Events.sessionizeGroupTimeout(1L, Iterator((1L, later)), state2).toSeq
    assert(next.isEmpty && state2.get.seq === 4L)
  }

  test("rolling 5-event average uses an exact trailing frame per user") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    val ev = (1 to 6).map(i => (7L, i.toLong, i.toLong * 1000000L, i.toDouble))
      .toDF("user_id", "event_id", "t_us", "value")
      .withColumn("ts", timestamp_micros(col("t_us"))).drop("t_us")
    val got = graft.streaming.Events.rollingAvgValue(ev)
      .orderBy("ts_us").select("rolling_avg_5").as[Double].collect()
    // frames: {1} {1,2} {1,2,3} {1..4} {1..5} {2..6}
    assert(got.toSeq === Seq(1.0, 1.5, 2.0, 2.5, 3.0, 4.0))
  }

  test("rollup levels are consistent: subtotals and grand total add up") {
    import spark.implicits._
    val out = graft.streaming.Events.qEventsRollup(spark, sfSmoke).collect()
    val grand = out.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length === 1)
    val total = grand.head.getLong(2)
    val typeSubtotals = out.filter(r => !r.isNullAt(0) && r.isNullAt(1))
    assert(typeSubtotals.map(_.getLong(2)).sum === total)
    val leaves = out.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    assert(leaves.map(_.getLong(2)).sum === total)
    assert(total === graft.tables.Tables.events(spark, sfSmoke).count())
  }

  test("cube grouping sets partition the total and gid tags each level") {
    val out = graft.streaming.Events.qEventsCube(spark, sfSmoke).collect()
    val byGid = out.groupBy(_.getLong(3))
    assert(byGid.keySet === Set(0L, 1L, 2L, 3L))
    val total = byGid(3L).map(_.getLong(2)).sum // grand total: both aggregated
    assert(byGid(3L).length === 1)
    // each grouping set independently sums to the same total
    Seq(0L, 1L, 2L).foreach(g =>
      assert(byGid(g).map(_.getLong(2)).sum === total, s"gid=$g"))
    // gid bit semantics: bit set ⇔ that column is aggregated (null)
    out.foreach { r =>
      val gid = r.getLong(3)
      assert(r.isNullAt(1) === ((gid & 1L) != 0), "day bit")
      assert(r.isNullAt(0) === ((gid & 2L) != 0), "type bit")
    }
  }

  test("event gaps: one null gap per user, ntile buckets balanced") {
    import spark.implicits._
    val out = graft.streaming.Events.qEventGaps(spark, sfSmoke)
      .select("user_id", "gap_us", "q").collect()
    val byUser = out.groupBy(_.getLong(0))
    byUser.foreach { case (u, rows) =>
      assert(rows.count(_.isNullAt(1)) === 1, s"user $u: first-event null gap")
      assert(rows.filter(!_.isNullAt(1)).forall(_.getLong(1) >= 0),
        s"user $u: negative gap — window order broke")
      // ntile contract: bucket sizes differ by at most one
      val sizes = rows.groupBy(_.getLong(2)).values.map(_.length)
      assert(sizes.max - sizes.min <= 1, s"user $u: unbalanced ntile")
    }
  }

  test("resample: spine is gap-free and counts are conserved") {
    val out = graft.streaming.Events.qResampleHourly(spark, sfSmoke).collect()
    // complete hourly spine: n rows == hours between min and max inclusive
    val hours = out.map(r =>
      java.time.LocalDateTime.parse(r.getString(0),
        java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")))
    val span = java.time.Duration.between(hours.head, hours.last).toHours + 1
    assert(hours.length.toLong === span, "spine has gaps or duplicates")
    assert(out.map(_.getLong(1)).sum ===
      graft.tables.Tables.events(spark, sfSmoke).count())
  }

  test("props json decode handles missing keys as null, not error") {
    import spark.implicits._
    val df = Seq("""{"k": 4}""", """{"other": 1}""", "not json")
      .toDF("props")
      .select(from_json(col("props"), Events.propsSchema).getField("k").as("k"))
    assert(df.as[Option[Int]].collect().toSeq === Seq(Some(4), None, None))
  }

  test("hourly anomaly flags a planted spike against its trailing day, not itself") {
    import spark.implicits._
    // 26 hours of a flat 10-events baseline, then one 100-event spike
    // hour, then a normal hour. Flat baseline -> var 0 -> NULL z until
    // the spike enters a window; the spike hour itself tests against the
    // flat PRIOR day (exclusive frame) and flags.
    def hourEvents(h: Int, n: Int): Seq[(Long, java.sql.Timestamp, Long, String, Double)] =
      (0 until n).map { i =>
        val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
        (h * 1000L + i, new java.sql.Timestamp(ts.getTime + h * 3600000L + i * 1000L),
          1L, "view", 1.0)
      }
    val rows = (0 until 26).flatMap(hourEvents(_, 10)) ++
      hourEvents(26, 100) ++ hourEvents(27, 10)
    val events = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Events.hourlyAnomaly(events).orderBy("hour").collect()
    // hours 24..27 (indices 0..3 here) have a full prior frame
    assert(out.length === 4)
    assert(out(0).getLong(4) === 0L && out(0).isNullAt(3)) // flat: null z
    assert(out(2).getLong(4) === 1L, "spike not flagged")
    assert(out(2).getDouble(2) === 10.0) // baseline mean excludes the spike
    // the hour AFTER the spike: baseline now contains the spike, the
    // normal count is within 2 sigma of the inflated-variance window
    assert(out(3).getLong(4) === 0L)
  }

  test("stateful funnel: streamed stage counts == batch funnel counts") {
    import spark.implicits._
    val checkpoint = Files.createTempDirectory("graft-ckpt-funnel").toString
    val q = Events.streamingFunnel(spark, sfSmoke).writeStream
      .format("memory").queryName("ev_funnel")
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("ev_funnel")
      .groupBy("stage_idx", "stage").agg(count(lit(1)).as("n_users"))
      .orderBy("stage_idx")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // the batch funnel reports drained stages as zero rows; the stream
    // only ever emits transitions, so compare against the reached set
    val batch = graft.operators.Analytics
      .qFunnel(spark, sfSmoke)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .filter(_._3 > 0L).toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("sessionDepths buckets by capped event count with exact durations") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1: a 2-event session (10 min) then a 1-event session;
    // user 2: 12 events one minute apart → the 10+ terminal bucket
    val rows = Seq(
      (1L, t("2024-01-01 10:00:00"), 1L, "view", 0.0),
      (2L, t("2024-01-01 10:10:00"), 1L, "view", 0.0),
      (3L, t("2024-01-01 12:00:00"), 1L, "view", 0.0)) ++
      (0 until 12).map(i =>
        ((10 + i).toLong, t(f"2024-01-01 09:${i}%02d:00"), 2L, "view", 0.0))
    val out = Events.sessionDepths(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) === ((1L, 0L)))
    assert(out(2L) === ((1L, 600L * 1000000L)))
    assert(out(10L) === ((1L, 11L * 60L * 1000000L)), "12 events cap at 10+")
  }

  test("idempotent batch sink: replaying a batch is a no-op, new batches append") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-idem").toString
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val b1 = Seq((3L, "c")).toDF("id", "v")
    val write = Events.idempotentBatchWrite(dir) _
    write(b0, 0L)
    write(b0, 0L) // recovery replays batch 0 — must not duplicate
    write(b1, 1L)
    val landed = Events.readLanded(spark, dir)
    assert(landed.count() === 3L)
    assert(landed.select("id").as[Long].collect().toSet === Set(1L, 2L, 3L))
    // the partition layout is the lineage index
    assert(landed.select("batch_id").distinct().as[Int].collect().toSet
      === Set(0, 1))
    // a replay with DIFFERENT content for the same id overwrites, not appends
    write(Seq((9L, "z")).toDF("id", "v"), 1L)
    assert(Events.readLanded(spark, dir).count() === 3L)
  }

  test("stateful attribution: streamed rows == batch last-touch rows") {
    import spark.implicits._
    val checkpoint = Files.createTempDirectory("graft-ckpt-attr").toString
    val q = Events.streamingAttribution(spark, sfSmoke).writeStream
      .format("memory").queryName("ev_attribution")
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))
    val streamed = spark.table("ev_attribution")
      .select("event_id", "user_id", "value", "click_id", "gap_us")
      .collect().map(key).sortBy(_._1).toSeq
    val batch = graft.operators.Analytics
      .qLastTouch(spark, sfSmoke)
      .collect().map(key).sortBy(_._1).toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch)
    // the organic (no-prior-click) bucket must survive the state path
    assert(streamed.exists(_._3.isEmpty) || batch.forall(_._3.nonEmpty))
  }

  test("stateful transitions: streamed (from,to) counts == batch matrix") {
    import spark.implicits._
    val checkpoint = Files.createTempDirectory("graft-ckpt-trans").toString
    val q = Events.streamingTransitions(spark, sfSmoke).writeStream
      .format("memory").queryName("ev_transitions")
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("ev_transitions")
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      .orderBy("from_type", "to_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val batch = graft.operators.Analytics
      .qEventTransitions(spark, sfSmoke)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("funnelGroup state never regresses: a late pre-bound event cannot advance") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import graft.streaming.Events.{FunnelState, funnelGroup}
    val stages = graft.operators.Analytics.FunnelStages
    def state(s: Option[FunnelState]) = TestGroupState.create[FunnelState](
      s.map(org.apache.spark.api.java.Optional.of[FunnelState])
        .getOrElse(org.apache.spark.api.java.Optional.empty[FunnelState]()),
      GroupStateTimeout.NoTimeout(), 0L,
      org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    // batch 1: view@100 binds stage 1
    val s1 = state(None)
    val h1 = funnelGroup(stages)(1L, Iterator((1L, "view", 100L)), s1).toSeq
    assert(h1.map(_.stage_idx) === Seq(1L))
    // batch 2: a click at ts=50 (before the stage-1 bound) must NOT
    // advance; a click at 150 must
    val s2 = state(Some(s1.get))
    val h2 = funnelGroup(stages)(1L,
      Iterator((1L, "click", 50L), (1L, "click", 150L)), s2).toSeq
    assert(h2.map(h => (h.stage_idx, h.ts_us)) === Seq((2L, 150L)))
  }

  test("streaming MG candidates exact-verified == batch heavy hitters") {
    import spark.implicits._
    import graft.operators.CorpusAnalytics
    val docs = graft.tables.Tables.documents(spark, sfSmoke)
    // several source files + maxFilesPerTrigger=1 → several micro-batches,
    // so the standing MG state actually MERGES partial summaries across
    // batches (the property under test) rather than aggregating once
    val srcDir = Files.createTempDirectory("graft-mg-src").toString
    docs.repartition(5).write.mode("overwrite").parquet(srcDir)
    val streamDocs = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val checkpoint = Files.createTempDirectory("graft-ckpt-mg").toString
    val q = CorpusAnalytics.streamingHeavyCandidates(streamDocs)
      .writeStream.format("memory").queryName("mg_cands")
      .outputMode("complete")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // the standing state is one bounded candidate array
    val nCands = spark.table("mg_cands")
      .select(size(col("cands"))).as[Int].head()
    assert(nCands > 0 && nCands <= CorpusAnalytics.HeavyCapacity)
    // streamed candidates → exact verify ≡ the one-shot batch operator:
    // the tail may differ between merge orders, the heavy survivors can't
    val streamedCands = spark.table("mg_cands")
      .select(explode(col("cands")).as("token"))
    val verified = CorpusAnalytics.verifyHeavyCandidates(docs, streamedCands)
      .orderBy(col("n_occurrences").desc, col("token")).collect()
    val batch = CorpusAnalytics.qHeavyHitters(spark, sfSmoke).collect()
    assert(verified.toSeq === batch.toSeq)
  }

  test("streaming DSIR admission: streamed probe scores == batch scores") {
    import graft.operators.TrainPrep
    val docs = graft.tables.Tables.documents(spark, sfSmoke)
    val probe = docs.filter(col("source") === TrainPrep.DsirProbeSource)
    // the probe streams in batches against the FROZEN corpus model —
    // dsirScoreAgainst's single-aggregation shape is what makes the
    // identical code path legal as a streaming query
    val srcDir = Files.createTempDirectory("graft-dsir-src").toString
    probe.repartition(4).write.mode("overwrite").parquet(srcDir)
    val streamProbe = spark.readStream.schema(probe.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val checkpoint = Files.createTempDirectory("graft-ckpt-dsir").toString
    val q = TrainPrep.dsirScoreAgainst(streamProbe, docs)
      .writeStream.format("memory").queryName("dsir_adm")
      .outputMode("complete")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("dsir_adm").orderBy("doc_id").collect()
    val batch = TrainPrep.qDsirAdmission(spark, sfSmoke).collect()
    assert(streamed.length > 0)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("streaming curriculum admission: streamed probe stages == batch stages") {
    import graft.operators.TrainPrep
    val docs = graft.tables.Tables.documents(spark, sfSmoke)
    val probe = docs.filter(col("doc_id") % 5 === 0)
    // floors frozen batch-side from the standing 80%; probes stream in
    // against the broadcast k-row threshold frame — the same
    // stream-static single-aggregation shape as the DSIR gate
    val thresholds = TrainPrep.curriculumThresholds(
      docs.filter(col("doc_id") % 5 =!= 0))
    val srcDir = Files.createTempDirectory("graft-curr-src").toString
    probe.repartition(4).write.mode("overwrite").parquet(srcDir)
    val streamProbe = spark.readStream.schema(probe.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val checkpoint = Files.createTempDirectory("graft-ckpt-curr").toString
    val q = TrainPrep.curriculumAssign(streamProbe, thresholds)
      .writeStream.format("memory").queryName("curr_adm")
      .outputMode("complete")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("curr_adm").orderBy("doc_id").collect()
    val batch = TrainPrep.qCurriculumAdmission(spark, sfSmoke).collect()
    assert(streamed.length > 0)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("streaming incremental leakage split: streamed assignments == batch") {
    import graft.operators.{TextDedup, TrainPrep}
    import spark.implicits._
    val docs = graft.tables.Tables.documents(spark, sfSmoke)
    val probe = docs.filter(col("doc_id") % TextDedup.IncrementMod === 0)
    val standing = docs.filter(col("doc_id") % TextDedup.IncrementMod =!= 0)
    TextDedup.withDedupClusters(TextDedup.minhashPairs(standing)) { labels =>
      // per-probe assignment is batch-independent, so foreachBatch over
      // micro-batches must union to exactly the one-shot batch result —
      // the live-admission claim in leakageSplitIncrement's scaladoc
      val srcDir = Files.createTempDirectory("graft-leak-src").toString
      probe.repartition(3).write.mode("overwrite").parquet(srcDir)
      val stream = spark.readStream.schema(probe.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean, String)]
      val q = stream.writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val rows = TrainPrep.leakageSplitIncrement(batch, standing, labels)
            .select("doc_id", "cluster_id", "inherited", "split")
            .as[(Long, Long, Boolean, String)].collect()
          got.synchronized { got ++= rows }
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "streaming query did not finish in time")
      val batch = TrainPrep.leakageSplitIncrement(probe, standing, labels)
        .select("doc_id", "cluster_id", "inherited", "split")
        .as[(Long, Long, Boolean, String)].collect()
      assert(got.nonEmpty)
      assert(got.sortBy(_._1).toSeq === batch.sortBy(_._1).toSeq)
    }
  }

  test("streaming paragraph admission: no standing chunk readmitted; lake is exactly-once") {
    import graft.operators.TextDedup
    import spark.implicits._
    val docs = graft.tables.Tables.documents(spark, sfSmoke)
    val inc = docs.filter(col("doc_id") % TextDedup.IncrementMod === 0)
      .select(col("doc_id"), col("text"))
    val standing0 = docs.filter(col("doc_id") % TextDedup.IncrementMod =!= 0)
      .select(col("doc_id"), col("text"))
    // kept chunks re-derive from clean_text: survivors are full
    // ParaWidth-token chunks except a possibly-partial LAST one, so
    // grouping the tokens recovers the admitted values exactly
    def chunkify(s: String): Seq[String] =
      if (s.isEmpty) Nil
      else s.split(" ").grouped(TextDedup.ParaWidth).map(_.mkString(" ")).toSeq
    val srcDir = Files.createTempDirectory("graft-para-src").toString
    inc.repartition(3).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(inc.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long)]
    val q = TextDedup.streamingParagraphAdmission(stream, standing0) {
      (out, _) =>
        val rows = out.as[(Long, String, Long, Long)].collect()
        got.synchronized { got ++= rows }
        ()
    }
    assert(q.awaitTermination(120000), "streaming query did not finish in time")
    // every increment doc was admitted exactly once, chunk counts intact
    val oneShot = TextDedup.paragraphDedupIncrement(inc, standing0).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got.map(_._1).sorted.toSeq === oneShot.keys.toSeq.sorted)
    got.foreach { case (id, _, nChunks, nKept) =>
      assert(nChunks === oneShot(id)._1, s"doc $id chunk count drifted")
      // static standing per micro-batch can only keep MORE than the
      // whole-increment winner pass (cross-batch increment dups are
      // each batch's firsts) — never fewer
      assert(nKept >= oneShot(id)._2, s"doc $id lost chunks vs one-shot")
    }
    // nothing the standing corpus already owns was readmitted
    val standingVals = TextDedup.paraChunks(standing0)
      .select(col("chunk")).as[String].collect().toSet
    assert(got.flatMap(r => chunkify(r._2)).forall(c => !standingVals(c)),
      "a standing chunk value was readmitted by the stream")
    // cumulative-lake replay: cleaning each batch against standing PLUS
    // everything already admitted makes admission exactly-once-per-value
    // REGARDLESS of arrival order — total kept = increment-only distinct
    var lake = standing0
    var keptTotal = 0L
    val srcDir2 = Files.createTempDirectory("graft-para-src2").toString
    inc.repartition(3).write.mode("overwrite").parquet(srcDir2)
    val stream2 = spark.readStream.schema(inc.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir2)
    val q2 = stream2.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = batch.select(col("doc_id"), col("text"))
          .as[(Long, String)].collect().toSeq
        keptTotal += TextDedup.paragraphDedupIncrement(
            rows.toDF("doc_id", "text"), lake)
          .agg(sum(col("n_kept"))).as[Long].head()
        lake = lake.unionByName(rows.toDF("doc_id", "text"))
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q2.awaitTermination(120000), "streaming query did not finish in time")
    def distinctChunks(df: org.apache.spark.sql.DataFrame): Long =
      TextDedup.paraChunks(df).select(md5(col("chunk"))).distinct().count()
    val expect = distinctChunks(standing0.unionByName(inc)) -
      distinctChunks(standing0)
    assert(keptTotal === expect)
  }

  test("streaming hard-negative miner: final per-anchor tops == batch mining") {
    import graft.operators.Similarity
    import spark.implicits._
    val emb = graft.tables.Tables.embeddings(spark, sfSmoke)
    val anchors = Similarity.anchorVectors(emb)
    val srcDir = Files.createTempDirectory("graft-miner-src").toString
    emb.repartition(3).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    // keep each anchor's LATEST emission (its state is final there)
    val latest = scala.collection.mutable.Map
      .empty[Long, (Long, Seq[(String, Long, Long, Double)])]
    val q = Similarity.streamingHardNegatives(stream, anchors)
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        b.as[(Long, String, Long, Long, Double)].collect()
          .groupBy(_._1).foreach { case (qid, rows) =>
            latest.synchronized {
              latest(qid) = (id, rows.map(r => (r._2, r._3, r._4, r._5)).toSeq)
            }
          }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "streaming query did not finish in time")
    val batch = Similarity.contrastivePairs(emb)
      .as[(Long, String, Long, Long, Double)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(r => (r._2, r._3, r._4, r._5)).toSeq.sorted).toMap
    assert(latest.nonEmpty)
    assert(latest.keySet === batch.keySet)
    latest.foreach { case (qid, (_, rows)) =>
      assert(rows.sorted === batch(qid), s"anchor $qid tops diverge")
    }
  }

  test("streaming winnow probe: streamed pairs == the one-shot batch") {
    import graft.operators.TextDedup
    import spark.implicits._
    val docs = graft.tables.Tables.documents(spark, sfSmoke)
    val probe = docs.filter(col("doc_id") % TextDedup.IncrementMod === 0)
    val standing = docs.filter(col("doc_id") % TextDedup.IncrementMod =!= 0)
    val srcDir = Files.createTempDirectory("graft-winnow-src").toString
    probe.repartition(3).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(probe.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q = TextDedup.streamingWinnowProbe(stream, standing) { (pairs, _) =>
      val rows = pairs.select("probe_id", "index_id", "n_shared")
        .as[(Long, Long, Long)].collect()
      got.synchronized { got ++= rows }
      ()
    }
    assert(q.awaitTermination(120000), "streaming query did not finish in time")
    // per-probe independence: the union over micro-batches must equal
    // the one-shot batch exactly, row for row
    val batch = TextDedup.winnowProbePairs(probe, standing)
      .select("probe_id", "index_id", "n_shared")
      .as[(Long, Long, Long)].collect()
    assert(got.sortBy(p => (p._1, p._2)).toSeq ===
      batch.sortBy(p => (p._1, p._2)).toSeq)
  }

  test("streaming quality drift: final-trigger PSI == the batch readout") {
    import graft.operators.CorpusAnalytics
    val docs = graft.tables.Tables.documents(spark, sfSmoke)
    val probe = docs.filter(col("doc_id") % 5 === 0)
    val reference = docs.filter(col("doc_id") % 5 =!= 0)
    val srcDir = Files.createTempDirectory("graft-drift-src").toString
    probe.repartition(3).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(probe.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    // keep the LAST trigger's finalized frame — with AvailableNow it
    // covers every probe file, which is exactly the batch population
    @volatile var last: Seq[Seq[String]] = Nil
    val q = CorpusAnalytics.streamingQualityDrift(stream, reference) {
      (psi, _) =>
        last = psi.orderBy("bin").collect()
          .map(_.toSeq.map(String.valueOf).toSeq).toSeq
        ()
    }
    assert(q.awaitTermination(120000), "streaming query did not finish in time")
    val batch = CorpusAnalytics.qualityDrift(reference, probe)
      .orderBy("bin").collect()
      .map(_.toSeq.map(String.valueOf).toSeq).toSeq
    assert(last.nonEmpty)
    assert(last === batch)
  }

  test("streaming contamination admission: streamed scores == the batch gate") {
    import graft.operators.CorpusFilters
    val docs = graft.tables.Tables.documents(spark, sfSmoke)
    val evalDocs = docs.filter(col("doc_id") % CorpusFilters.EvalMod === 0)
    val train = docs.filter(col("doc_id") % CorpusFilters.EvalMod =!= 0)
    val banned = CorpusFilters.bannedShingles(evalDocs)
    // batch-equality with the self-contained gate first: the "against"
    // spelling over the same split must reproduce contamination()
    val viaAgainst = CorpusFilters.contaminationAgainst(train, banned)
      .orderBy("doc_id").collect().map(_.toSeq.map(String.valueOf)).toSeq
    val gate = CorpusFilters.contamination(docs)
      .orderBy("doc_id").collect().map(_.toSeq.map(String.valueOf)).toSeq
    assert(viaAgainst === gate)
    // then the live twin: train docs stream in against the frozen set
    val srcDir = Files.createTempDirectory("graft-contam-src").toString
    train.repartition(3).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(train.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val checkpoint = Files.createTempDirectory("graft-ckpt-contam").toString
    val q = CorpusFilters.contaminationAgainst(stream, banned)
      .writeStream.format("memory").queryName("contam_adm")
      .outputMode("complete")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "streaming query did not finish in time")
    val streamed = spark.table("contam_adm").orderBy("doc_id")
      .collect().map(_.toSeq.map(String.valueOf)).toSeq
    assert(streamed.nonEmpty)
    assert(streamed === gate)
  }

  test("streaming budget admission holds the fill invariant across micro-batches") {
    import graft.operators.TrainPrep
    import spark.implicits._
    // source A: five 10-token docs against a 25-token target → the
    // gate admits until the running total passes 25 (boundary doc
    // completes the budget at 30), then stays closed ACROSS batches
    // (state survives the micro-batch boundary — one parquet file per
    // trigger). Source B has no share → target 0, every doc emitted
    // rejected, never silently dropped.
    def words(n: Int) = Seq.fill(n)("tok").mkString(" ")
    val docs = ((1 to 5).map(i => (i.toLong, words(10), "A"))
      ++ Seq((9L, words(10), "B")))
      .toDF("doc_id", "text", "source")
    val shares = Seq(("A", 2500L)).toDF("source", "share_bp")
    val srcDir = Files.createTempDirectory("graft-budget-src").toString
    docs.repartition(3).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val checkpoint = Files.createTempDirectory("graft-ckpt-budget").toString
    val q = TrainPrep.streamingBudgetAdmission(stream, shares, budgetTokens = 100L)
      .writeStream.format("memory").queryName("budget_adm")
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "streaming query did not finish in time")
    val rows = spark.table("budget_adm").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    assert(rows.length === 6, "every doc gets a gate row, rejected included")
    // row rule: admitted ⟺ the total before the doc is under target
    assert(rows.forall { case (_, s, _, before, ok) =>
      ok === (before < (if (s == "A") 25L else 0L)) })
    // fill invariant for A: admitted tokens land in [target, target+doc)
    val aTokens = rows.filter(r => r._2 == "A" && r._5).map(_._3).sum
    assert(aTokens === 30L, s"three docs complete the 25-token budget, got $aTokens")
    // B: target 0 → nothing admitted
    assert(rows.filter(_._2 == "B").forall(!_._5))
    // state continuity: the largest admitted_before in A equals the
    // fill minus the boundary doc — no batch restarted the counter
    assert(rows.filter(r => r._2 == "A" && r._5).map(_._4).max === 20L)
  }
}
