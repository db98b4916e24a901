package graft.streaming

import org.apache.spark.sql.functions._

import graft.GraftSpec

/** EXT streaming operators, exercised in batch mode (the transformations are
  * stream/batch unified; DQ25/DQ26 run them as real availableNow streams).
  */
class EventStreamSpec extends GraftSpec {
  import spark.implicits._

  private val us = 1000000L
  // user 1: two sessions (gap > 10 min); user 2: one session
  private def events = Seq(
    (1L, 0L * us, 1L, "click", 1.0, ""),
    (2L, 300L * us, 1L, "view", 2.0, ""),   // +5 min → same session
    (3L, 1000L * us, 1L, "click", 3.0, ""), // +11.7 min → new session
    (4L, 60L * us, 2L, "view", 4.0, "")
  ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    .withColumn("ts", $"ts" * 1000) // to nanos
    .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))

  describe("sessionize (flatMapGroupsWithState)") {
    it("splits on the inactivity gap and aggregates per session") {
      val s = EventStream.sessionize(events, gapMinutes = 10)
        .collect().sortBy(x => (x.user_id, x.session_start))
      s.map(x => (x.user_id, x.n_events, x.duration_sec)) shouldBe
        Array((1L, 2L, 300.0), (1L, 1L, 0.0), (2L, 1L, 0.0))
      s(0).session_start shouldBe "1970-01-01 00:00:00"
      s(1).session_start shouldBe "1970-01-01 00:16:40"
    }
  }

  describe("sessionizeContinuous (event-time timeout + per-key cap)") {
    import org.apache.spark.sql.streaming.Trigger

    def runStream(in: String, out: String,
        f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Dataset[_]): Unit = {
      val events = spark.readStream
        .schema(EventStream.eventsSchema)
        .option("maxFilesPerTrigger", "1") // one file per micro-batch
        .parquet(s"$in/*")
        .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
      val q = f(events).toDF().writeStream
        .format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    def writeBatch(dir: String, name: String, rows: Seq[(Long, Long, Long)]): Unit = {
      rows.map { case (id, t, u) => (id, t * us, u, "click", 1.0, "") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", $"ts" * 1000)
        .coalesce(1) // ONE file → one data micro-batch, deterministic order
        .write.parquet(s"$dir/$name.parquet")
      ()
    }

    it("flushes an idle key via the event-time timeout; open sessions are " +
       "not emitted") {
      val base = graft.io.TempReaper.tempDir("graft-sess-cont").toString
      // user 1 at t=1h,1h+30s; user 2 at t=1h+5000s drives the watermark to
      // 1h+5000s after the data batch. AvailableNow then runs the timeout
      // batch (stateful ops request it after a watermark advance): user 1's
      // timeout (last event + 10 min = 1h+630s << watermark) fires with no
      // new data, flushing its session; user 2's open session stays in state
      writeBatch(s"$base/in", "f1",
        Seq((1L, 3600L, 1L), (2L, 3630L, 1L), (3L, 8600L, 2L)))
      runStream(s"$base/in", s"$base/out",
        ev => EventStream.sessionizeContinuous(ev, gapMinutes = 10,
          watermarkDelay = "0 seconds"))
      val got = spark.read.parquet(s"$base/out/data")
        .as[EventStream.Session].collect().toSeq
      got.map(s => (s.user_id, s.n_events, s.duration_sec)) shouldBe
        Seq((1L, 2L, 30.0))
      got.head.session_start shouldBe "1970-01-01 01:00:00"
    }

    it("a closed session flushes even while the key's tail is still open " +
       "(timer at the EARLIEST boundary, not the last event)") {
      val base = graft.io.TempReaper.tempDir("graft-sess-early").toString
      // user 1: session A at t=3600, session B at t=8000 (> gap apart).
      // user 2 at t=8600 drives the watermark. A's boundary (3600+600)
      // passes the watermark; B's (8000+600 = 8600) does NOT — the old
      // last-event timer (8600) would never fire, stranding A
      writeBatch(s"$base/in", "f1",
        Seq((1L, 3600L, 1L), (2L, 8000L, 1L), (3L, 8600L, 2L)))
      runStream(s"$base/in", s"$base/out",
        ev => EventStream.sessionizeContinuous(ev, gapMinutes = 10,
          watermarkDelay = "0 seconds"))
      spark.read.parquet(s"$base/out/data")
        .as[EventStream.Session].collect().toSeq
        .map(s => (s.user_id, s.n_events, s.session_start)) shouldBe
        Seq((1L, 1L, "1970-01-01 01:00:00"))
    }

    it("force-flushes a key that exceeds the per-key buffer cap") {
      val base = graft.io.TempReaper.tempDir("graft-sess-cap").toString
      // 3 events within the gap — buffer of 3 > cap of 2 → forced flush even
      // though the session is not watermark-closed
      writeBatch(s"$base/in", "f1",
        Seq((1L, 3600L, 1L), (2L, 3610L, 1L), (3L, 3620L, 1L)))
      runStream(s"$base/in", s"$base/out",
        ev => EventStream.sessionizeContinuous(ev, gapMinutes = 10,
          watermarkDelay = "0 seconds", maxBufferedPerKey = 2))
      val got = spark.read.parquet(s"$base/out/data")
        .as[EventStream.Session].collect().toSeq
      got.map(s => (s.user_id, s.n_events, s.duration_sec)) shouldBe
        Seq((1L, 3L, 20.0))
    }
  }

  describe("sessionizeTws (transformWithState: typed state + timers)") {
    import org.apache.spark.sql.streaming.Trigger

    def withRocksDb[A](body: => A): A = {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try body finally prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
    }

    def runTws(in: String, out: String, cap: Int = 100000): Unit = withRocksDb {
      val events = spark.readStream
        .schema(EventStream.eventsSchema)
        .parquet(s"$in/*")
        .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
      val q = EventStream.sessionizeTws(events, gapMinutes = 10,
          watermarkDelay = "0 seconds", maxBufferedPerKey = cap)
        .toDF().writeStream
        .format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    def writeBatch(dir: String, rows: Seq[(Long, Long, Long)]): Unit = {
      rows.map { case (id, t, u) => (id, t * us, u, "click", 1.0, "") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", $"ts" * 1000)
        .coalesce(1)
        .write.parquet(s"$dir/f1.parquet")
      ()
    }

    it("matches sessionizeContinuous: idle key flushes via its timer, open " +
       "sessions stay in state") {
      val base = graft.io.TempReaper.tempDir("graft-tws").toString
      writeBatch(s"$base/in",
        Seq((1L, 3600L, 1L), (2L, 3630L, 1L), (3L, 8600L, 2L)))
      runTws(s"$base/in", s"$base/out")
      val got = spark.read.parquet(s"$base/out/data")
        .as[EventStream.Session].collect().toSeq
      got.map(s => (s.user_id, s.n_events, s.duration_sec)) shouldBe
        Seq((1L, 2L, 30.0))
      got.head.session_start shouldBe "1970-01-01 01:00:00"
    }

    it("a closed session flushes even while the key's tail is still open " +
       "(same earliest-boundary timer as the continuous variant)") {
      val base = graft.io.TempReaper.tempDir("graft-tws-early").toString
      writeBatch(s"$base/in",
        Seq((1L, 3600L, 1L), (2L, 8000L, 1L), (3L, 8600L, 2L)))
      runTws(s"$base/in", s"$base/out")
      spark.read.parquet(s"$base/out/data")
        .as[EventStream.Session].collect().toSeq
        .map(s => (s.user_id, s.n_events, s.session_start)) shouldBe
        Seq((1L, 1L, "1970-01-01 01:00:00"))
    }

    it("force-flushes past the per-key cap") {
      val base = graft.io.TempReaper.tempDir("graft-tws-cap").toString
      writeBatch(s"$base/in",
        Seq((1L, 3600L, 1L), (2L, 3610L, 1L), (3L, 3620L, 1L)))
      runTws(s"$base/in", s"$base/out", cap = 2)
      spark.read.parquet(s"$base/out/data")
        .as[EventStream.Session].collect().toSeq
        .map(s => (s.user_id, s.n_events, s.duration_sec)) shouldBe
        Seq((1L, 3L, 20.0))
    }
  }

  describe("dropDuplicatesWithinWatermark (bounded dedup state)") {
    import org.apache.spark.sql.streaming.Trigger

    it("drops duplicates within the horizon, re-emits after eviction, " +
       "and keeps state bounded by the watermark") {
      val base = graft.io.TempReaper.tempDir("graft-dedup-ww").toString
      def write(name: String, rows: Seq[(Long, Long, Long)]): Unit = {
        rows.map { case (id, t, u) => (id, t * us, u, "click", 1.0, "") }
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .withColumn("ts", $"ts" * 1000)
          .coalesce(1)
          .write.parquet(s"$base/in/$name.parquet")
        ()
      }
      val h = 3600L
      // batch a: user 1 @ 1h, user 99 @ 1h+10000s → watermark commits to
      // 1h+6400s after the batch, past user 1's expiry (event + 1h delay)
      write("a", Seq((1L, h, 1L), (2L, h + 10000, 99L)))
      Thread.sleep(1100) // distinct mtimes pin the file→batch order
      // batch b: user 1 again @ 1h+6500s — user 1's state is EXPIRED but
      // eviction runs at batch COMMIT, so the lingering entry still
      // suppresses this row (allowed: the contract only guarantees drops
      // WITHIN the horizon); commit then cleans user 1's state
      write("b", Seq((3L, h + 6500, 1L), (4L, h + 10000, 99L)))
      Thread.sleep(1100)
      // batch c: user 1 again @ 1h+12000s — state evicted → re-emitted as
      // a fresh first occurrence; user 99 (expiry 1h+13600s) still in
      // state → its duplicate stays dropped
      write("c", Seq((5L, h + 12000, 1L), (6L, h + 10000, 99L)))

      val in = spark.readStream
        .schema(EventStream.eventsSchema)
        .option("maxFilesPerTrigger", "1") // file a, then file b
        .parquet(s"$base/in/*")
        .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
      val q = in
        .withWatermark("event_time", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select("event_id")
        .writeStream
        .format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()

      spark.read.parquet(s"$base/out").as[Long].collect().sorted.toSeq shouldBe
        Seq(1L, 2L, 5L) // 3,4,6 dropped; 5 re-emitted after eviction
    }
  }

  describe("hourlyTypeCounts") {
    it("tumbling hourly windows per type") {
      val r = EventStream.hourlyTypeCounts(events)
        .orderBy("window_start", "event_type")
        .as[(String, String, Long, Double)].collect()
      r shouldBe Array(
        ("1970-01-01 00:00:00", "click", 2L, 4.0),
        ("1970-01-01 00:00:00", "view", 2L, 6.0))
    }
  }

  describe("runIngestGate (foreachBatch batch-library reuse)") {
    it("runs the gate per micro-batch and unions the surviving rows with " +
        "no batch partition column") {
      val base = graft.io.TempReaper.tempDir("graft-gate").toString
      def doc(id: Long, text: String) = (id, text, "en", "src0", text.length.toLong)
      // two files → two micro-batches
      Seq(doc(1L, "aa"), doc(2L, "bb")).toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$base/in/b0.parquet")
      Seq(doc(3L, "cc"), doc(4L, "dd")).toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$base/in/b1.parquet")
      val incoming = spark.readStream
        .schema(EventStream.documentsSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$base/in/*")
      var gateCalls = 0 // foreachBatch runs its body on the driver
      val res = EventStream.runIngestGate(incoming, "spec") { batch =>
        gateCalls += 1
        batch.filter(col("doc_id") % 2 === 0).select("doc_id", "source")
      }
      res.columns.toSeq shouldBe Seq("doc_id", "source")
      res.select("doc_id").as[Long].collect().sorted shouldBe Array(2L, 4L)
      // the gate really ran per micro-batch: once for each input file
      gateCalls shouldBe 2
    }

    it("a zero-input stream returns an EMPTY frame in the gate's output " +
        "schema instead of throwing path-does-not-exist") {
      val base = graft.io.TempReaper.tempDir("graft-gate-empty")
      java.nio.file.Files.createDirectories(base.resolve("in"))
      val incoming = spark.readStream
        .schema(EventStream.documentsSchema)
        .parquet(s"$base/in/*.parquet") // matches nothing → no batch fires
      val res = EventStream.runIngestGate(incoming, "spec-empty") { batch =>
        batch.filter(col("doc_id") % 2 === 0).select("doc_id", "source")
      }
      res.columns.toSeq shouldBe Seq("doc_id", "source")
      res.count() shouldBe 0L
    }
  }

  describe("streaming observability (what a 100 TB pipeline alarms on)") {
    it("observe() metrics surface per-batch row counts and sums in progress") {
      import org.apache.spark.sql.streaming.Trigger
      val base = graft.io.TempReaper.tempDir("graft-obs").toString
      events.drop("event_time").write.mode("overwrite")
        .parquet(s"$base/in/data.parquet")
      val stream = spark.readStream
        .schema(EventStream.eventsSchema)
        .parquet(s"$base/in/*")
        .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
        .observe("ingest", count(lit(1)).as("rows"),
          sum(col("value")).as("sum_value"))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      val q = stream.writeStream
        .outputMode("complete")
        .format("noop")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val observed = q.recentProgress.flatMap(p =>
        Option(p.observedMetrics.get("ingest")))
      observed should not be empty
      observed.map(_.getAs[Long]("rows")).sum shouldBe 4L
      observed.map(_.getAs[Double]("sum_value")).sum shouldBe 10.0
    }

    it("watermark drops late arrivals and ACCOUNTS for them " +
       "(numRowsDroppedByWatermark)") {
      import org.apache.spark.sql.streaming.Trigger
      val base = graft.io.TempReaper.tempDir("graft-late").toString
      val in = s"$base/in"
      // batch 1: events at t=2h,3h → watermark advances to 3h - 1h = 2h
      Seq((1L, 7200L * us, 1L, "click", 1.0, ""),
          (2L, 10800L * us, 1L, "click", 1.0, ""))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", $"ts" * 1000)
        .write.parquet(s"$in/f1.parquet")
      // batch 2: an event at t=0 — an hour behind the watermark → dropped
      Seq((3L, 0L * us, 1L, "click", 1.0, ""),
          (4L, 10900L * us, 1L, "click", 1.0, ""))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", $"ts" * 1000)
        .write.parquet(s"$in/f2.parquet")
      val stream = spark.readStream
        .schema(EventStream.eventsSchema)
        .option("maxFilesPerTrigger", "1") // one file per micro-batch
        .parquet(s"$in/*")
        .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
        .withWatermark("event_time", "1 hour")
        .groupBy(window(col("event_time"), "1 hour"))
        .agg(count(lit(1)).as("n"))
      val q = stream.writeStream
        .outputMode("append")
        .format("noop")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val dropped = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      dropped shouldBe 1L
    }
  }

  describe("session-conf contract (VERDICT r4: library calls must not " +
           "mutate the shared session)") {
    it("readEvents validates instead of mutating: a misconfigured session " +
       "fails fast and is left untouched") {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.session.timeZone", "America/New_York")
      val e2 = intercept[IllegalArgumentException] {
        EventStream.readEvents(s2, "/root/testdata/sf0.001")
      }
      e2.getMessage should include("timeZone")
      s2.conf.get("spark.sql.session.timeZone") shouldBe "America/New_York"
    }

    it("ts-unit auto-detection: micros events.ts streams without the " +
       "legacy nanos conf, and event_time is a proper TimestampType") {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.session.timeZone", "UTC")
      s2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
      val ev = EventStream.readEvents(s2, "/root/testdata/sf0.001")
      ev.schema("event_time").dataType shouldBe
        org.apache.spark.sql.types.TimestampType
      // declared stream schema matches the file's probed unit, not a
      // hard-coded one
      ev.schema("ts").dataType shouldBe
        graft.io.EventTime.tsTypeOf(s2, "/root/testdata/sf0.001")
    }
  }

  describe("RocksDB state store (the production backend for state > heap)") {
    it("stateful windowed aggregation produces identical results on RocksDB") {
      import org.apache.spark.sql.streaming.OutputMode
      def run(name: String): Set[(String, String, Long, Double)] =
        EventStream.runToTable(
          EventStream.hourlyTypeCounts(
            EventStream.readEvents(spark, "/root/testdata/sf0.001")),
          name, OutputMode.Complete())
          .as[(String, String, Long, Double)].collect().toSet

      val default = run("ss_default")
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val rocks = run("ss_rocksdb")
        rocks shouldBe default
        rocks should not be empty
      } finally prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
    }
  }

  describe("runFoldIngest (append-only fold loop over an associative store)") {
    it("folds each micro-batch under an exactly-once token and reaches " +
      "the batch-built state (dq139/dq140's loop)") {
      val docs = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
      val incoming = EventStream.twoFileBatchStream(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 === 5), "foldspec")
      val path = graft.io.TempReaper
        .tempDir("graft-foldspec-idx").toString + "/idx"
      val store = graft.ext.Bm25Store.build(
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", path)
      var tokens = Vector.empty[String]
      EventStream.runFoldIngest(incoming, "foldspec") { (batch, token) =>
        tokens :+= token
        store.appendOnce(batch, "doc_id", "text", token); ()
      }
      tokens.size shouldBe 2 // one fold per micro-batch file
      val st = store.stats
      st.docs shouldBe docs.count()
      // a replayed micro-batch (same token, ANY payload) is a no-op
      tokens.foreach(tok =>
        store.appendOnce(docs.limit(3), "doc_id", "text", tok))
      store.stats shouldBe st
      // the folded store equals ONE batch-built store over the union:
      // same statistics, same search ranking (associativity — batch
      // boundaries are invisible)
      val full = graft.ext.Bm25Store.build(docs, "doc_id", "text",
        graft.io.TempReaper.tempDir("graft-foldspec-idx2").toString + "/idx")
      st.docs shouldBe full.stats.docs
      st.dlSum shouldBe full.stats.dlSum
      val queries = docs.filter(col("doc_id") % 101 === 0)
        .select(col("doc_id").as("qid"), explode(array_distinct(
          slice(graft.ext.TextAnalysis.tokens(col("text")), 1, 4))).as("term"))
        .localCheckpoint(true)
      def ranked(s: graft.ext.Bm25Store) =
        s.search(queries, k = 3).collect()
          .map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getLong(2)))
          .sortBy(x => (x._1, x._2))
      ranked(store) shouldBe ranked(full)
    }
  }

  describe("runFrozenGate (gate-only loop over a frozen reference index)") {
    it("gates every micro-batch against the SAME benchmark index, never " +
      "grows it, and keeps identical survivors for identical batches " +
      "(the streamed decontamination contract, dq145's loop)") {
      val docs = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
      val bench = docs.filter(col("doc_id") % 10 === 0)
      val path = graft.io.TempReaper
        .tempDir("graft-frzgate-idx").toString + "/idx"
      val idx = graft.ext.SubstrIndex.build(bench, "doc_id", "text", path,
        k = 8)
      val before = idx.stats
      val batch = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text"))
      val out = EventStream.runFrozenGate(
        EventStream.twoFileBatchStream(batch, batch, "frzgate"),
        idx, "doc_id", "text", "frzgate")
        .select("batch", "doc_id").as[(Long, Long)].collect().toSeq
      val b1 = out.collect { case (1L, id) => id }.sorted
      val b2 = out.collect { case (2L, id) => id }.sorted
      // identical batches → identical survivors (an appending gate would
      // have dropped every batch-2 doc); benchmark members themselves drop
      b1 should not be empty
      b2 shouldBe b1
      bench.select("doc_id").as[Long].collect()
        .filter(_ % 5 == 0).foreach(id => b1 should not contain id)
      // the frozen store did not grow: same digest count, same manifest
      idx.stats shouldBe before
      graft.ext.SubstrIndex.open(spark, path).stats shouldBe before
    }
  }
}
