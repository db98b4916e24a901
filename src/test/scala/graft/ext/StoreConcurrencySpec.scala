package graft.ext

import org.apache.spark.sql.functions._

import graft.GraftSpec

/** The persisted-index writer lock ([[ManifestLog.withWriteLock]]):
  * two interleaved writers both land their appends (none lost, tokens
  * intact), a same-token race folds exactly once, a held lock fails
  * fast naming the file, and a crashed holder's stale lock is broken.
  * NgramLmStore is the probe modality — the whole family shares the one
  * lock implementation.
  */
class StoreConcurrencySpec extends GraftSpec {
  import spark.implicits._

  private def tmp(): String =
    graft.io.TempReaper.tempDir("graft-lock-spec")
      .toString + "/idx"

  private def df(rows: (Long, String)*) =
    rows.toDF("doc_id", "text").localCheckpoint(true)

  private val hist = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "a stitch in time saves nine they say"))
  private val b1 = Seq((10L, "north wind and warm sun argued loudly"))
  private val b2 = Seq((20L, "rivers run downhill to the open sea"))

  private def counts(store: NgramLmStore): Seq[(String, Long)] =
    store.scoreBatch(df(hist ++ b1 ++ b2: _*), "doc_id", "text")
      .select(col("doc_id").cast("string"), col("sum_micro"))
      .as[(String, Long)].collect().sorted.toSeq

  it("two interleaved writers: both appends land, neither lost, commits " +
     "stay sequential") {
    val path = tmp()
    val store = NgramLmStore.build(df(hist: _*), "doc_id", "text", path)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val ts = Seq(b1 -> "w#1", b2 -> "w#2").map { case (rows, tok) =>
      new Thread(() => {
        try { gate.await(); store.appendOnce(df(rows: _*), "doc_id", "text", tok) }
        catch { case t: Throwable => errs.add(t) }
      })
    }
    ts.foreach(_.start()); gate.countDown(); ts.foreach(_.join(120000))
    errs.toArray shouldBe empty
    // both tokens committed, three sequential markers, nothing lost
    val markers = new java.io.File(s"$path/_commits").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".")).map(_.getName).sorted
    markers shouldBe Array("m000001", "m000002", "m000003")
    // the replay view of each token still excludes exactly its own append
    val without1 = store.scoreBatch(df(b1: _*), "doc_id", "text",
      excludeToken = Some("w#1")).select("sum_micro").as[Long].head()
    val with1 = store.scoreBatch(df(b1: _*), "doc_id", "text")
      .select("sum_micro").as[Long].head()
    with1 should be > without1 // its own bigrams count once appended
    // summed model equals a serial build over the same three batches
    val serial = tmp()
    val sStore = NgramLmStore.build(df(hist: _*), "doc_id", "text", serial)
    sStore.append(df(b1: _*), "doc_id", "text")
    sStore.append(df(b2: _*), "doc_id", "text")
    counts(store) shouldBe counts(sStore)
  }

  it("two racers with the SAME token fold the batch exactly once " +
     "(check-then-commit is atomic under the lock)") {
    val path = tmp()
    val store = NgramLmStore.build(df(hist: _*), "doc_id", "text", path)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val ts = (1 to 2).map(_ => new Thread(() => {
      try { gate.await(); store.appendOnce(df(b1: _*), "doc_id", "text", "same#1") }
      catch { case t: Throwable => errs.add(t) }
    }))
    ts.foreach(_.start()); gate.countDown(); ts.foreach(_.join(120000))
    errs.toArray shouldBe empty
    new java.io.File(s"$path/_commits").listFiles()
      .count(f => f.isFile && !f.getName.startsWith(".")) shouldBe 2
    // model equals ONE fold of b1 (not two)
    val serial = tmp()
    val sStore = NgramLmStore.build(df(hist: _*), "doc_id", "text", serial)
    sStore.append(df(b1: _*), "doc_id", "text")
    counts(store) shouldBe counts(sStore)
  }

  it("a held lock fails fast past lockWaitMs, naming the lock file; a " +
     "STALE lock (crashed holder) is broken and the append proceeds") {
    val path = tmp()
    val store = NgramLmStore.build(df(hist: _*), "doc_id", "text", path)
    val lock = java.nio.file.Paths.get(s"$path/_commits/.lock")
    java.nio.file.Files.write(lock, "pid=0\n".getBytes("UTF-8"))
    spark.conf.set("spark.graft.index.lockWaitMs", "0")
    try {
      val e = intercept[IllegalStateException] {
        store.append(df(b1: _*), "doc_id", "text")
      }
      e.getMessage should include(".lock")
      // age the lock past lockStaleMs: the next writer breaks it
      lock.toFile.setLastModified(
        System.currentTimeMillis() - 3600L * 1000L) shouldBe true
      store.append(df(b1: _*), "doc_id", "text")
      java.nio.file.Files.exists(lock) shouldBe false
    } finally {
      spark.conf.unset("spark.graft.index.lockWaitMs")
      java.nio.file.Files.deleteIfExists(lock)
    }
  }

  it("a slow holder's HEARTBEAT keeps its live lock past lockStaleMs — " +
     "the waiter blocks until release instead of breaking it; a holder " +
     "that stops beating is still broken") {
    val path = tmp()
    val log = new ManifestLog(spark, path)
    // margins sized for a COLD JVM: first-beat classloading and GC pauses
    // have been observed north of 400ms, so the stale window is 2s with a
    // 100ms beat — a missed beat or three still leaves 10× headroom
    spark.conf.set("spark.graft.index.lockStaleMs", "2000")
    spark.conf.set("spark.graft.index.lockHeartbeatMs", "100")
    spark.conf.set("spark.graft.index.lockWaitMs", "30000")
    try {
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val holderIn = new java.util.concurrent.CountDownLatch(1)
      val holderDone = new java.util.concurrent.atomic.AtomicBoolean(false)
      val overlapped = new java.util.concurrent.atomic.AtomicBoolean(false)
      // the holder's body outlives lockStaleMs by 3×: without heartbeats
      // the waiter would break the live lock and the bodies would overlap
      val holder = new Thread(() => {
        try log.withWriteLock {
          holderIn.countDown()
          Thread.sleep(6000)
          holderDone.set(true)
        } catch { case t: Throwable => errs.add(t) }
      })
      val waiter = new Thread(() => {
        try {
          holderIn.await()
          log.withWriteLock { if (!holderDone.get()) overlapped.set(true) }
        } catch { case t: Throwable => errs.add(t) }
      })
      holder.start(); waiter.start()
      holder.join(30000); waiter.join(30000)
      errs.toArray shouldBe empty
      overlapped.get() shouldBe false
      holderDone.get() shouldBe true
      // and the release deleted the lock
      java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$path/_commits/.lock")) shouldBe false
      // a DEAD holder (its lock never beats) is still broken: plant a
      // foreign heartbeat-less lock, aged past the stale window, and race
      // two waiters at it — the takeover serializes (bodies never overlap)
      val lockP = java.nio.file.Paths.get(s"$path/_commits/.lock")
      java.nio.file.Files.write(lockP,
        "pid=0\nowner=dead-holder\n".getBytes("UTF-8"))
      lockP.toFile.setLastModified(
        System.currentTimeMillis() - 3600L * 1000L) shouldBe true
      val inside = new java.util.concurrent.atomic.AtomicInteger(0)
      val clash = new java.util.concurrent.atomic.AtomicBoolean(false)
      val gate = new java.util.concurrent.CountDownLatch(1)
      val ws = (1 to 2).map(_ => new Thread(() => {
        try {
          gate.await()
          log.withWriteLock {
            if (inside.incrementAndGet() > 1) clash.set(true)
            Thread.sleep(150)
            inside.decrementAndGet()
          }
        } catch { case t: Throwable => errs.add(t) }
      }))
      ws.foreach(_.start()); gate.countDown(); ws.foreach(_.join(30000))
      errs.toArray shouldBe empty
      clash.get() shouldBe false
      java.nio.file.Files.exists(lockP) shouldBe false
    } finally {
      spark.conf.unset("spark.graft.index.lockStaleMs")
      spark.conf.unset("spark.graft.index.lockHeartbeatMs")
      spark.conf.unset("spark.graft.index.lockWaitMs")
    }
  }

  it("setTimes-less filesystems: heartbeats land on the owner-named " +
     "SIDECAR — the shared lock path is never written after acquisition, " +
     "a slow holder still survives past lockStaleMs, release removes the " +
     "sidecar, and a takeover sweeps the dead owner's orphan") {
    val path = tmp()
    val log = new ManifestLog(spark, path)
    spark.conf.set("spark.graft.index.lockStaleMs", "2000")
    spark.conf.set("spark.graft.index.lockHeartbeatMs", "100")
    spark.conf.set("spark.graft.index.lockWaitMs", "30000")
    ManifestLog.disableSetTimes = true
    try {
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val commitsDir = java.nio.file.Paths.get(s"$path/_commits")
      val lockP = commitsDir.resolve(".lock")
      def sidecars(): Seq[String] =
        Option(commitsDir.toFile.listFiles()).getOrElse(Array.empty)
          .map(_.getName).filter(_.startsWith(".lock.hb.")).toSeq
      val holderIn = new java.util.concurrent.CountDownLatch(1)
      val holderDone = new java.util.concurrent.atomic.AtomicBoolean(false)
      val overlapped = new java.util.concurrent.atomic.AtomicBoolean(false)
      @volatile var lockBytesAtStart: Array[Byte] = Array.empty
      @volatile var lockBytesMidHold: Array[Byte] = Array.empty
      @volatile var lockMtimeAtStart = 0L
      @volatile var lockMtimeMidHold = 0L
      @volatile var sidecarsMidHold: Seq[String] = Nil
      val holder = new Thread(() => {
        try log.withWriteLock {
          lockBytesAtStart = java.nio.file.Files.readAllBytes(lockP)
          lockMtimeAtStart = lockP.toFile.lastModified()
          holderIn.countDown()
          Thread.sleep(6000) // 3× the stale window — only sidecar beats
          lockBytesMidHold = java.nio.file.Files.readAllBytes(lockP)
          lockMtimeMidHold = lockP.toFile.lastModified()
          sidecarsMidHold = sidecars()
          holderDone.set(true)
        } catch { case t: Throwable => errs.add(t) }
      })
      val waiter = new Thread(() => {
        try {
          holderIn.await()
          log.withWriteLock { if (!holderDone.get()) overlapped.set(true) }
        } catch { case t: Throwable => errs.add(t) }
      })
      holder.start(); waiter.start()
      holder.join(30000); waiter.join(30000)
      errs.toArray shouldBe empty
      overlapped.get() shouldBe false
      holderDone.get() shouldBe true
      // the shared lock path was never touched during the hold: same
      // bytes, same mtime (every beat went to the sidecar)
      lockBytesMidHold shouldBe lockBytesAtStart
      lockMtimeMidHold shouldBe lockMtimeAtStart
      // the holder WAS beating via its sidecar
      sidecarsMidHold should have size 1
      // release removed both the lock and the holder's sidecar (the
      // waiter's release then removed its own too)
      java.nio.file.Files.exists(lockP) shouldBe false
      sidecars() shouldBe empty
      // takeover of a DEAD holder sweeps its orphaned sidecar: plant an
      // aged foreign lock with an aged matching sidecar
      java.nio.file.Files.write(lockP,
        "pid=0\nowner=dead-owner\n".getBytes("UTF-8"))
      val orphan = commitsDir.resolve(".lock.hb.dead-owner")
      java.nio.file.Files.write(orphan, "owner=dead-owner\n".getBytes("UTF-8"))
      val old = System.currentTimeMillis() - 3600L * 1000L
      lockP.toFile.setLastModified(old) shouldBe true
      orphan.toFile.setLastModified(old) shouldBe true
      log.withWriteLock { () } // breaks the stale lock, sweeps the orphan
      java.nio.file.Files.exists(lockP) shouldBe false
      sidecars() shouldBe empty
    } finally {
      ManifestLog.disableSetTimes = false
      spark.conf.unset("spark.graft.index.lockStaleMs")
      spark.conf.unset("spark.graft.index.lockHeartbeatMs")
      spark.conf.unset("spark.graft.index.lockWaitMs")
    }
  }

  it("a LIVE sidecar-beating holder is NOT broken even when the lock " +
     "file's own mtime is ancient (staleness keys on max(lock, sidecar))") {
    val path = tmp()
    val log = new ManifestLog(spark, path)
    spark.conf.set("spark.graft.index.lockStaleMs", "2000")
    spark.conf.set("spark.graft.index.lockHeartbeatMs", "100")
    spark.conf.set("spark.graft.index.lockWaitMs", "30000")
    ManifestLog.disableSetTimes = true
    try {
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val lockP = java.nio.file.Paths.get(s"$path/_commits/.lock")
      val holderIn = new java.util.concurrent.CountDownLatch(1)
      val holderDone = new java.util.concurrent.atomic.AtomicBoolean(false)
      val overlapped = new java.util.concurrent.atomic.AtomicBoolean(false)
      val holder = new Thread(() => {
        try log.withWriteLock {
          // wait for the first sidecar beat to land, THEN age the lock
          // file itself WAY past the stale window: only the sidecar says
          // we're alive from here on
          val dir = new java.io.File(s"$path/_commits")
          val limit = System.currentTimeMillis() + 5000
          while (System.currentTimeMillis() < limit &&
              !dir.listFiles().exists(_.getName.startsWith(".lock.hb.")))
            Thread.sleep(20)
          lockP.toFile.setLastModified(
            System.currentTimeMillis() - 3600L * 1000L)
          holderIn.countDown()
          Thread.sleep(6000)
          holderDone.set(true)
        } catch { case t: Throwable => errs.add(t) }
      })
      val waiter = new Thread(() => {
        try {
          holderIn.await()
          log.withWriteLock { if (!holderDone.get()) overlapped.set(true) }
        } catch { case t: Throwable => errs.add(t) }
      })
      holder.start(); waiter.start()
      holder.join(30000); waiter.join(30000)
      errs.toArray shouldBe empty
      overlapped.get() shouldBe false
      holderDone.get() shouldBe true
    } finally {
      ManifestLog.disableSetTimes = false
      spark.conf.unset("spark.graft.index.lockStaleMs")
      spark.conf.unset("spark.graft.index.lockHeartbeatMs")
      spark.conf.unset("spark.graft.index.lockWaitMs")
    }
  }

  it("the commit publish refuses to overwrite on the LOCAL scheme too " +
     "(hard-link publish): a lock-bypassing writer fails its commit " +
     "instead of replacing the committed manifest") {
    val path = tmp()
    val log = new ManifestLog(spark, path)
    log.withWriteLock {
      log.commit(Manifest(rels = Map("digests" -> Seq("a000001"))), 1)
    }
    // a rogue commit at the SAME sequence number must fail, byte-for-byte
    // preserving the first manifest
    val e = intercept[IllegalStateException] {
      log.commit(Manifest(rels = Map("digests" -> Seq("rogue"))), 1)
    }
    e.getMessage should include("commit collision")
    log.read().flatMap(_.rel("digests")) shouldBe Seq("a000001")
    // and the stage file did not linger
    new java.io.File(s"$path/_commits").listFiles()
      .map(_.getName).filter(_.endsWith(".tmp")) shouldBe empty
  }
}
