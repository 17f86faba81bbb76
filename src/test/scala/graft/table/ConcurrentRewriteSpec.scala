package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

/** Footprint-scoped writer locks ([[MedallionTable.acquireWriteLock]]):
  * claim-first rewrites that declare DISJOINT partition footprints
  * (OPTIMIZE … WHERE, partition-scoped DV deletes) commit concurrently;
  * overlapping footprints and anything against a global-footprint writer
  * serialize exactly as before. Concurrency is PROVEN with latch-paired
  * failpoints — both writers must hold their claimed commits at the same
  * instant — not inferred from two successes.
  */
class ConcurrentRewriteSpec extends SparkSpec {
  import spark.implicits._

  private def seeded(prefix: String, filesPerPart: Int = 4,
      byAppend: Boolean = false): (String, MedallionTable) = {
    val p = tmpDir(prefix)
    val t = MedallionTable(spark, p, Seq("blk"))
    // an append-created table records no schema (the evolving contract)
    if (byAppend) t.append(Seq((0L, 0)).toDF("id", "blk"))
    else t.overwrite(Seq((0L, 0)).toDF("id", "blk"))
    // small appends build up multiple files per partition
    (1 until filesPerPart).foreach { i =>
      t.append((0 until 4).map(b => (i * 10L + b, b)).toDF("id", "blk"))
    }
    (0 until 4).foreach(b =>
      t.append(Seq((900L + b, b)).toDF("id", "blk")))
    (p, t)
  }

  private def guarded(name: String, failures: ConcurrentLinkedQueue[Throwable])
      (body: => Unit): Thread = {
    val th = new Thread(() =>
      try body catch { case e: Throwable => failures.add(e) }, name)
    th
  }

  private def parquetCount(p: String, blk: Int): Int = {
    val d = new java.io.File(s"$p/blk=$blk")
    if (!d.exists()) 0
    else d.listFiles().count(_.getName.endsWith(".parquet"))
  }

  test("disjoint OPTIMIZE…WHERE commit CONCURRENTLY: both hold claimed " +
      "commits at the same instant, both results land") {
    val (p, t) = seeded("cr1")
    val before = t.read.select(sum($"id")).head.getLong(0)
    val v0 = t.commitVersion
    val aClaimed = new CountDownLatch(1)
    val bClaimed = new CountDownLatch(1)
    val overlapped = new java.util.concurrent.atomic.AtomicBoolean(true)
    MedallionTable.testFailpoint = {
      case "mid-claim-first" => Thread.currentThread().getName match {
        case "optA" =>
          aClaimed.countDown()
          if (!bClaimed.await(20, TimeUnit.SECONDS)) overlapped.set(false)
        case "optB" =>
          bClaimed.countDown()
          if (!aClaimed.await(20, TimeUnit.SECONDS)) overlapped.set(false)
        case _ => ()
      }
      case _ => ()
    }
    val failures = new ConcurrentLinkedQueue[Throwable]()
    try {
      val a = guarded("optA", failures)(
        MedallionTable(spark, p, Seq("blk")).compactWhere($"blk" === 0))
      val b = guarded("optB", failures)(
        MedallionTable(spark, p, Seq("blk")).compactWhere($"blk" === 1))
      a.start(); b.start()
      a.join(120000); b.join(120000)
    } finally MedallionTable.testFailpoint = _ => ()
    assert(failures.isEmpty, s"writer died: ${failures.peek()}")
    assert(overlapped.get(),
      "the two disjoint compactions never held their claims " +
        "simultaneously — they serialized")
    assert(t.commitVersion == v0 + 2)
    assert(parquetCount(p, 0) == 1 && parquetCount(p, 1) == 1,
      "a compaction's result was lost")
    assert(t.read.select(sum($"id")).head.getLong(0) == before,
      "content changed under concurrent disjoint compactions")
    assert(t.history().count(_._2 == "optimize-where") == 2)
  }

  test("overlapping OPTIMIZE…WHERE serialize: the second cannot claim " +
      "while the first holds its footprint") {
    val (p, t) = seeded("cr2")
    val before = t.read.select(sum($"id")).head.getLong(0)
    val v0 = t.commitVersion
    val aClaimed = new CountDownLatch(1)
    MedallionTable.testFailpoint = {
      case "mid-claim-first" if Thread.currentThread().getName == "optA" =>
        aClaimed.countDown(); Thread.sleep(1500)
      case _ => ()
    }
    val failures = new ConcurrentLinkedQueue[Throwable]()
    try {
      val a = guarded("optA", failures)(MedallionTable(spark, p, Seq("blk"))
        .compactWhere($"blk".isin(0, 1)))
      a.start()
      assert(aClaimed.await(30, TimeUnit.SECONDS))
      val b = guarded("optB", failures)(MedallionTable(spark, p, Seq("blk"))
        .compactWhere($"blk".isin(1, 2)))
      b.start()
      Thread.sleep(600) // give B every chance to (wrongly) claim
      assert(t.commitVersion == v0 + 1,
        "overlapping compaction claimed while the first held blk=1")
      a.join(120000); b.join(120000)
    } finally MedallionTable.testFailpoint = _ => ()
    assert(failures.isEmpty, s"writer died: ${failures.peek()}")
    assert(t.commitVersion == v0 + 2)
    assert(t.read.select(sum($"id")).head.getLong(0) == before)
  }

  test("partition-scoped DV deletes run concurrently with a disjoint " +
      "compaction and with each other") {
    val (p, t) = seeded("cr3")
    val keep = t.read.filter($"blk" =!= 2)
      .select(sum($"id")).head.getLong(0)
    val aClaimed = new CountDownLatch(1)
    val bClaimed = new CountDownLatch(1)
    val overlapped = new java.util.concurrent.atomic.AtomicBoolean(true)
    MedallionTable.testFailpoint = {
      case "mid-claim-first" => Thread.currentThread().getName match {
        case "dvA" =>
          aClaimed.countDown()
          if (!bClaimed.await(20, TimeUnit.SECONDS)) overlapped.set(false)
        case "optB" =>
          bClaimed.countDown()
          if (!aClaimed.await(20, TimeUnit.SECONDS)) overlapped.set(false)
        case _ => ()
      }
      case _ => ()
    }
    val failures = new ConcurrentLinkedQueue[Throwable]()
    try {
      val a = guarded("dvA", failures)(
        MedallionTable(spark, p, Seq("blk")).deleteVectored($"blk" === 2))
      val b = guarded("optB", failures)(
        MedallionTable(spark, p, Seq("blk")).compactWhere($"blk" === 0))
      a.start(); b.start()
      a.join(120000); b.join(120000)
    } finally MedallionTable.testFailpoint = _ => ()
    assert(failures.isEmpty, s"writer died: ${failures.peek()}")
    assert(overlapped.get(), "DV delete and disjoint compaction serialized")
    assert(t.read.filter($"blk" === 2).count() == 0, "DV delete lost")
    assert(t.read.select(sum($"id")).head.getLong(0) == keep)

    // DV-vs-DV: disjoint partitions stage their marks privately, so both
    // hold claimed commits at once — each waits for the other at its claim
    val only0 = t.read.filter($"blk" === 0).select(sum($"id")).head.getLong(0)
    val cClaimed = new CountDownLatch(1)
    val dClaimed = new CountDownLatch(1)
    val dvOverlapped = new java.util.concurrent.atomic.AtomicBoolean(true)
    MedallionTable.testFailpoint = {
      case "mid-claim-first" => Thread.currentThread().getName match {
        case "dvC" =>
          cClaimed.countDown()
          if (!dClaimed.await(20, TimeUnit.SECONDS)) dvOverlapped.set(false)
        case "dvD" =>
          dClaimed.countDown()
          if (!cClaimed.await(20, TimeUnit.SECONDS)) dvOverlapped.set(false)
        case _ => ()
      }
      case _ => ()
    }
    try {
      val c = guarded("dvC", failures)(
        MedallionTable(spark, p, Seq("blk")).deleteVectored($"blk" === 3))
      val d = guarded("dvD", failures)(
        MedallionTable(spark, p, Seq("blk")).deleteVectored($"blk" === 1))
      c.start(); d.start()
      c.join(120000); d.join(120000)
    } finally MedallionTable.testFailpoint = _ => ()
    assert(failures.isEmpty, s"writer died: ${failures.peek()}")
    assert(dvOverlapped.get(), "disjoint DV deletes serialized")
    assert(t.read.filter($"blk".isin(1, 3)).count() == 0)
    assert(t.read.select(sum($"id")).head.getLong(0) == only0)
  }

  test("an append scopes to its partitions: a DISJOINT compaction claims " +
      "while the append holds; an OVERLAPPING one serializes") {
    val (p, t) = seeded("cr4")
    val v0 = t.commitVersion
    val appClaimed = new CountDownLatch(1)
    MedallionTable.testFailpoint = {
      case "mid-claim-first" if Thread.currentThread().getName == "appA" =>
        appClaimed.countDown(); Thread.sleep(1500)
      case _ => ()
    }
    val failures = new ConcurrentLinkedQueue[Throwable]()
    try {
      val a = guarded("appA", failures)(MedallionTable(spark, p, Seq("blk"))
        .append(Seq((5000L, 0)).toDF("id", "blk")))
      a.start()
      assert(appClaimed.await(30, TimeUnit.SECONDS))
      // disjoint partition: claims and commits while the append holds
      val b = guarded("optB", failures)(
        MedallionTable(spark, p, Seq("blk")).compactWhere($"blk" === 3))
      b.start()
      b.join(120000)
      assert(t.commitVersion == v0 + 2,
        "disjoint compaction failed to claim while an append held blk=0")
      a.join(120000)
    } finally MedallionTable.testFailpoint = _ => ()
    assert(failures.isEmpty, s"writer died: ${failures.peek()}")
    assert(t.commitVersion == v0 + 2)
    assert(t.read.filter($"id" === 5000L).count() == 1)
    assert(parquetCount(p, 3) == 1, "compaction lost")

    // overlapping partition: the compaction must NOT claim mid-append
    val v1 = t.commitVersion
    val app2 = new CountDownLatch(1)
    MedallionTable.testFailpoint = {
      case "mid-claim-first" if Thread.currentThread().getName == "appC" =>
        app2.countDown(); Thread.sleep(1500)
      case _ => ()
    }
    try {
      val c = guarded("appC", failures)(MedallionTable(spark, p, Seq("blk"))
        .append(Seq((5001L, 1)).toDF("id", "blk")))
      c.start()
      assert(app2.await(30, TimeUnit.SECONDS))
      val d = guarded("optD", failures)(
        MedallionTable(spark, p, Seq("blk")).compactWhere($"blk" === 1))
      d.start()
      Thread.sleep(600) // give D every chance to (wrongly) claim
      assert(t.commitVersion == v1 + 1,
        "overlapping compaction claimed while an append held blk=1")
      c.join(120000); d.join(120000)
    } finally MedallionTable.testFailpoint = _ => ()
    assert(failures.isEmpty, s"writer died: ${failures.peek()}")
    assert(t.commitVersion == v1 + 2)
    assert(t.read.filter($"id" === 5001L).count() == 1)
  }

  /** Two appends to disjoint partitions must hold their claimed commits
    * at the same instant, and both batches must land exactly once.
    */
  private def disjointAppendsOverlap(p: String, t: MedallionTable): Unit = {
    val before = t.read.count()
    val v0 = t.commitVersion
    val aClaimed = new CountDownLatch(1)
    val bClaimed = new CountDownLatch(1)
    val overlapped = new java.util.concurrent.atomic.AtomicBoolean(true)
    MedallionTable.testFailpoint = {
      case "mid-claim-first" => Thread.currentThread().getName match {
        case "appA" =>
          aClaimed.countDown()
          if (!bClaimed.await(20, TimeUnit.SECONDS)) overlapped.set(false)
        case "appB" =>
          bClaimed.countDown()
          if (!aClaimed.await(20, TimeUnit.SECONDS)) overlapped.set(false)
        case _ => ()
      }
      case _ => ()
    }
    val failures = new ConcurrentLinkedQueue[Throwable]()
    try {
      val a = guarded("appA", failures)(MedallionTable(spark, p, Seq("blk"))
        .append((0 until 50).map(i => (6000L + i, 0)).toDF("id", "blk")))
      val b = guarded("appB", failures)(MedallionTable(spark, p, Seq("blk"))
        .append((0 until 50).map(i => (6100L + i, 1)).toDF("id", "blk")))
      a.start(); b.start()
      a.join(120000); b.join(120000)
    } finally MedallionTable.testFailpoint = _ => ()
    assert(failures.isEmpty, s"writer died: ${failures.peek()}")
    assert(overlapped.get(),
      "the two disjoint appends never held their claims simultaneously " +
        "— they serialized")
    assert(t.commitVersion == v0 + 2)
    assert(t.read.count() == before + 100, "an append's rows were lost")
    assert(t.read.filter($"id" >= 6000L && $"id" < 6100L).count() == 50)
    assert(t.read.filter($"id" >= 6100L).count() == 50)
    assert(t.history().count(_._2 == "append") >= 2)
  }

  test("two DISJOINT appends hold claimed commits at the same instant " +
      "(Delta blind-append parity); both batches land exactly once") {
    val (p, t) = seeded("cr8")
    disjointAppendsOverlap(p, t)
  }

  test("two DISJOINT appends on an APPEND-created table (no recorded " +
      "schema) hold claimed commits at the same instant; both land once") {
    val (p, t) = seeded("cr8a", byAppend = true)
    assert(t.meta.schema.isEmpty, "an append-created table records no schema")
    disjointAppendsOverlap(p, t)
    assert(t.meta.schema.isEmpty, "appends keep the table schemaless")
  }

  test("SAME-partition appends serialize on their shared footprint and " +
      "both land (appends commute; the serial order is irrelevant)") {
    val (p, t) = seeded("cr9")
    val before = t.read.count()
    val aClaimed = new CountDownLatch(1)
    MedallionTable.testFailpoint = {
      case "mid-claim-first" if Thread.currentThread().getName == "appA2" =>
        aClaimed.countDown(); Thread.sleep(1200)
      case _ => ()
    }
    val v0 = t.commitVersion
    val failures = new ConcurrentLinkedQueue[Throwable]()
    try {
      val a = guarded("appA2", failures)(MedallionTable(spark, p, Seq("blk"))
        .append(Seq((6500L, 2)).toDF("id", "blk")))
      a.start()
      assert(aClaimed.await(30, TimeUnit.SECONDS))
      val b = guarded("appB2", failures)(MedallionTable(spark, p, Seq("blk"))
        .append(Seq((6501L, 2)).toDF("id", "blk")))
      b.start()
      Thread.sleep(500) // give B every chance to (wrongly) claim
      assert(t.commitVersion == v0 + 1,
        "same-partition append claimed while the first held blk=2")
      a.join(120000); b.join(120000)
    } finally MedallionTable.testFailpoint = _ => ()
    assert(failures.isEmpty, s"writer died: ${failures.peek()}")
    assert(t.read.count() == before + 2)
    assert(t.commitVersion == v0 + 2)
  }

  test("disjoint partition-pruned merges commit CONCURRENTLY; two " +
      "merges creating the SAME new partition serialize") {
    val (p, t) = seeded("cr6")
    val v0 = t.commitVersion
    val aClaimed = new CountDownLatch(1)
    val bClaimed = new CountDownLatch(1)
    val overlapped = new java.util.concurrent.atomic.AtomicBoolean(true)
    MedallionTable.testFailpoint = {
      case "mid-claim-first" => Thread.currentThread().getName match {
        case "mrgA" =>
          aClaimed.countDown()
          if (!bClaimed.await(20, TimeUnit.SECONDS)) overlapped.set(false)
        case "mrgB" =>
          bClaimed.countDown()
          if (!aClaimed.await(20, TimeUnit.SECONDS)) overlapped.set(false)
        case _ => ()
      }
      case _ => ()
    }
    val failures = new ConcurrentLinkedQueue[Throwable]()
    try {
      val a = guarded("mrgA", failures)(MedallionTable(spark, p, Seq("blk"))
        .mergePruned(Seq((900L, 0)).toDF("id", "blk"), Seq("id", "blk"),
          deleteNotMatchedBySource = false))
      val b = guarded("mrgB", failures)(MedallionTable(spark, p, Seq("blk"))
        .mergePruned(Seq((901L, 1)).toDF("id", "blk"), Seq("id", "blk"),
          deleteNotMatchedBySource = false))
      a.start(); b.start()
      a.join(120000); b.join(120000)
    } finally MedallionTable.testFailpoint = _ => ()
    assert(failures.isEmpty, s"writer died: ${failures.peek()}")
    assert(overlapped.get(), "disjoint pruned merges serialized")
    assert(t.commitVersion == v0 + 2)
    assert(t.read.filter($"id".isin(900L, 901L)).count() == 2,
      "a merge's rows were lost")

    // the SAME NEW partition (blk=9 does not exist yet): value-rendered
    // footprint resources collide, the second waits out the first
    val v1 = t.commitVersion
    val cClaimed = new CountDownLatch(1)
    MedallionTable.testFailpoint = {
      case "mid-claim-first" if Thread.currentThread().getName == "mrgC" =>
        cClaimed.countDown(); Thread.sleep(1500)
      case _ => ()
    }
    try {
      val c = guarded("mrgC", failures)(MedallionTable(spark, p, Seq("blk"))
        .mergePruned(Seq((910L, 9)).toDF("id", "blk"), Seq("id", "blk"),
          deleteNotMatchedBySource = false))
      c.start()
      assert(cClaimed.await(30, TimeUnit.SECONDS))
      val d = guarded("mrgD", failures)(MedallionTable(spark, p, Seq("blk"))
        .mergePruned(Seq((911L, 9)).toDF("id", "blk"), Seq("id", "blk"),
          deleteNotMatchedBySource = false))
      d.start()
      Thread.sleep(600)
      assert(t.commitVersion == v1 + 1,
        "second same-new-partition merge claimed during the first's hold")
      c.join(120000); d.join(120000)
    } finally MedallionTable.testFailpoint = _ => ()
    assert(failures.isEmpty, s"writer died: ${failures.peek()}")
    assert(t.read.filter($"blk" === 9).count() == 2,
      "a same-partition merge's insert was lost")
  }

  test("a hold-and-waiting scoped claimant YIELDS to an arriving global " +
      "writer instead of stalling the pair to their timeouts") {
    val (p, t) = seeded("cr7")
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commits = new org.apache.hadoop.fs.Path(p + "__graft_commits")
    // a fake scoped holder whose name sorts AFTER any uuid token (hex <
    // 'z'), so the real claimant below takes the hold-and-wait branch
    val fake = new org.apache.hadoop.fs.Path(commits, "write_zzzzzzzz.lock")
    val out = fs.create(fake, true)
    out.write(s"${System.currentTimeMillis()}\tfake\np:blk=0".getBytes("UTF-8"))
    out.close()
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val t0 = System.nanoTime()
    val a = guarded("optA", failures)(
      MedallionTable(spark, p, Seq("blk")).compactWhere($"blk" === 0))
    a.start()
    Thread.sleep(400) // A is now holding its lock, waiting on the fake
    // appendIdempotent keeps the GLOBAL writer lock (its marker-witness
    // re-checks need it) — plain appends are scoped now, so it is the
    // arriving-global-writer fixture here
    val g = guarded("appG", failures)(MedallionTable(spark, p, Seq("blk"))
      .appendIdempotent(Seq((7000L, 2)).toDF("id", "blk"), "cr7app", 0L))
    g.start()
    Thread.sleep(400) // global lock is standing; A must yield to it
    fs.delete(fake, false) // the fake holder "finishes"
    a.join(120000); g.join(120000)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(failures.isEmpty, s"writer died: ${failures.peek()}")
    // pre-fix, A slept on the global lock while still holding its own,
    // deadlocking the pair until the 30 s budgets fired
    assert(secs < 15.0, f"pair took $secs%.1f s — mutual stall")
    assert(t.read.filter($"id" === 7000L).count() == 1)
    assert(parquetCount(p, 0) == 1, "compaction lost")
  }

  test("random interleaving sweep (append / DV-delete / scoped-compact " +
      "on disjoint vs overlapping partitions) matches the serial model") {
    val rnd = new scala.util.Random(42)
    val p = tmpDir("cr5")
    val t = MedallionTable(spark, p, Seq("blk"))
    // serial seed: ids 0..39 across partitions 0..3
    t.overwrite((0 until 40).map(i => (i.toLong, i % 4)).toDF("id", "blk"))
    val v0 = t.commitVersion
    // deterministic outcome by construction: phase-B appends target only
    // partitions 0-1, DV deletes target only partitions 2-3, compacts go
    // anywhere — so no schedule can make a delete race the append that
    // inserted its rows, and any interleaving equals the serial model
    val nextId = new java.util.concurrent.atomic.AtomicLong(1000L)
    val appended = new ConcurrentLinkedQueue[Long]()
    val deletedParts =
      new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    val ops: Seq[() => Unit] = (0 until 12).map { _ =>
      rnd.nextInt(3) match {
        case 0 => () => {
          val b = rnd.nextInt(2)
          val id = nextId.getAndIncrement()
          MedallionTable(spark, p, Seq("blk"))
            .append(Seq((id, b)).toDF("id", "blk"))
          appended.add(id)
        }
        case 1 => () => {
          val b = 2 + rnd.nextInt(2)
          MedallionTable(spark, p, Seq("blk"))
            .deleteVectored(col("blk") === b)
          deletedParts.add(b)
        }
        case 2 => () => {
          val b = rnd.nextInt(4)
          MedallionTable(spark, p, Seq("blk"))
            .compactWhere(col("blk") === b)
        }
      }
    }
    def retry(n: Int)(f: => Unit): Unit =
      scala.util.Try(f) match {
        case scala.util.Success(_) => ()
        case scala.util.Failure(
            _: java.util.ConcurrentModificationException) if n > 0 =>
          Thread.sleep(100); retry(n - 1)(f)
        case scala.util.Failure(e) => throw e
      }
    val queues = ops.grouped((ops.size + 2) / 3).toSeq
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val threads = queues.zipWithIndex.map { case (q, i) =>
      guarded(s"sweep$i", failures)(q.foreach(op => retry(30)(op())))
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(failures.isEmpty, s"writer died: ${failures.peek()}")
    // Each successful op leaves exactly ONE surviving commit marker, but
    // ordinals may legitimately SKIP: an op that aborts on a conflict
    // (footprint re-check, vanished files) releases its claimed marker
    // and retries — if another writer claimed a higher ordinal in
    // between, the freed one stays a hole (commitVersion is max-based).
    // Staged appends widened the interleavings that produce holes, so
    // the assert is on surviving commits, not the raw counter.
    assert(t.commitVersion >= v0 + ops.size,
      "every op claims at least one commit")
    val survived = t.fullHistory().count(_._1 > v0)
    assert(survived == ops.size,
      s"expected ${ops.size} surviving commits after v$v0, got $survived")
    // serial model: seed rows outside deleted partitions + all appends
    val delSet = { val s = scala.collection.mutable.Set[Int]()
      deletedParts.forEach(b => s += b.intValue); s.toSet }
    val expected = (0 until 40).filterNot(i => delSet.contains(i % 4))
      .map(_.toLong).toSet ++ {
      val s = scala.collection.mutable.Set[Long]()
      appended.forEach(id => s += id); s.toSet }
    val got = t.read.select("id").collect().map(_.getLong(0)).toSet
    assert(got == expected,
      s"diverged from serial model: missing=${expected -- got} " +
        s"extra=${got -- expected}")
  }

  test("janitor vacuum racing a mid-staging append: the append lands, " +
      "nothing is aborted, no litter survives") {
    // Stage-then-publish runs the data job with NO lock held, so "a
    // staging dir exists with no lock standing" never proves a crash —
    // the retention horizon is what keeps a cron vacuum from killing a
    // live appender. Failpoint fires after the staging write, before the
    // publish claim: exactly the window vacuum used to reap through.
    val p = tmpDir("cr_vacuum_race")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, "a")).toDF("id", "s"))
    val janitor = new MedallionTable(spark, p)
    var vacuumed = false
    MedallionTable.testFailpoint = {
      case "post-stage-write" if !vacuumed =>
        vacuumed = true
        janitor.vacuum() // default config: young staging must survive
      case _ => ()
    }
    try t.append(Seq((2L, "b")).toDF("id", "s"))
    finally MedallionTable.testFailpoint = _ => ()
    assert(vacuumed, "the failpoint must have run the racing vacuum")
    assert(t.read.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b")),
      "the append must land despite the racing vacuum")
    // no staging litter left behind (the append's own cleanup ran)
    val cd = new java.io.File(s"${p}__graft_commits")
    assert(!cd.listFiles().exists(_.getName.startsWith("append_staging_")),
      "no append staging may survive the publish")
  }

  test("operator-mode vacuum (assumeNoWriters) mid-staging: the staged " +
      "path yields and restaging still lands the rows once") {
    val p = tmpDir("cr_vacuum_force")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, "a")).toDF("id", "s"))
    val janitor = new MedallionTable(spark, p)
    var vacuumed = false
    MedallionTable.testFailpoint = {
      case "post-stage-write" if !vacuumed =>
        vacuumed = true
        spark.conf.set("spark.graft.vacuumAssumeNoWriters", "true")
        try janitor.vacuum() // reaps the staging out from under the append
        finally spark.conf.unset("spark.graft.vacuumAssumeNoWriters")
      case _ => ()
    }
    try t.append(Seq((2L, "b")).toDF("id", "s"))
    finally MedallionTable.testFailpoint = _ => ()
    assert(vacuumed)
    // the staged attempt found its staging gone BEFORE claiming, released
    // nothing it had not claimed, and restaged — the rows land exactly once
    assert(t.read.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b")),
      "rows must land exactly once through the restaged append")
  }

  test("a CHECK committed while an append is staged gates that append: " +
      "a violating batch is refused, a passing one lands once") {
    val p = tmpDir("cr_check_staged")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, "a")).toDF("id", "s"))
    val declarer = new MedallionTable(spark, p)
    val staged = new java.util.concurrent.atomic.AtomicInteger(0)
    var declare: Option[(String, String)] = None
    MedallionTable.testFailpoint = {
      case "post-stage-write" =>
        staged.incrementAndGet()
        // the declaration lands between the staging write and the claim
        declare.foreach { case (n, e) => declarer.addCheckConstraint(n, e) }
        declare = None
      case _ => ()
    }
    try {
      declare = Some("pos" -> "id > 0")
      // the first staging ran before the CHECK existed: only a restage
      // under the record the claim found can refuse the batch
      val e = intercept[Throwable](t.append(Seq((-1L, "x")).toDF("id", "s")))
      def chain(x: Throwable): Seq[String] =
        if (x == null) Nil else String.valueOf(x.getMessage) +: chain(x.getCause)
      assert(chain(e).exists(_.contains("CHECK violated")), chain(e))
      assert(staged.get() == 1, "the restage's write must refuse the batch")
      assert(t.checkConstraints.get("pos").contains("id > 0"))
      assert(t.read.filter($"id" === -1L).count() == 0,
        "the violating batch published past the CHECK")

      staged.set(0)
      declare = Some("small" -> "id < 100")
      t.append(Seq((2L, "b")).toDF("id", "s"))
      assert(staged.get() == 2, "the append must restage under the record " +
        s"its claim found (staged ${staged.get()} times)")
      assert(t.checkConstraints.keySet == Set("pos", "small"))
    } finally MedallionTable.testFailpoint = _ => ()
    assert(t.read.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      .sorted == Seq((1L, "a"), (2L, "b")),
      "the passing batch must land exactly once")
  }

  test("janitor vacuum fired inside a LIVE rewrite's swap window stands " +
      "down: no spurious restore, the rewrite completes") {
    val p = tmpDir("cr_swap_vacuum")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"))
    val janitor = new MedallionTable(spark, p)
    var reaped = -1
    MedallionTable.testFailpoint = {
      case "mid-swap" =>
        // between rename(dst, backup) and rename(tmp, dst): the live dir
        // is ABSENT and the rewrite intent is published — exactly the
        // window a default-config 1 Hz cron janitor can hit. The old
        // restore branch would rename the backup over dst here and fail
        // the rewriter's second rename.
        reaped = janitor.vacuum()
      case _ => ()
    }
    try t.merge(Seq((1L, 11.0)).toDF("id", "v"), Seq("id"))
    finally MedallionTable.testFailpoint = _ => ()
    assert(reaped == 0,
      "vacuum must touch nothing inside a live rewrite's swap window")
    // merge is full-sync: the source IS the new table state
    assert(t.read.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((1L, 11.0)),
      "the live rewrite must land despite the janitor vacuum")
  }

  test("a rewrite over a crashed rewrite's aged intent publishes a fresh " +
      "one: a janitor vacuum inside its window keeps it") {
    val p = tmpDir("cr_stale_intent")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"))
    val f = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // a crashed rewrite's intent, aged past the vacuum horizon
    val intent = new org.apache.hadoop.fs.Path(SideFiles.commitsDir(p),
      "rewrite.intent")
    val out = f.create(intent, true)
    out.write("0\tcrashed".getBytes("UTF-8"))
    out.close()
    f.setTimes(intent, System.currentTimeMillis() - 3L * 3600 * 1000, -1)
    val janitor = new MedallionTable(spark, p)
    var standing: Option[Boolean] = None
    MedallionTable.testFailpoint = {
      case "post-recheck" =>
        // the live rewrite's intent is published and re-checked: a vacuum
        // that reaped it here would let a claim land rows the swap drops
        janitor.vacuum()
        standing = Some(f.exists(intent))
      case _ => ()
    }
    try t.merge(Seq((1L, 11.0)).toDF("id", "v"), Seq("id"))
    finally MedallionTable.testFailpoint = _ => ()
    assert(standing.contains(true),
      "vacuum reaped the live rewrite's intent inside its window")
    assert(!f.exists(intent), "the rewrite clears its intent with the swap")
    assert(t.read.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((1L, 11.0)))
  }

  test("mid-swap crash with a YOUNG intent standing: vacuum defers the " +
      "restore until the intent ages past the horizon") {
    val p = tmpDir("cr_swap_defer")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, "a")).toDF("id", "s"))
    val f = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // fabricate a kill -9 mid-swap: live dir renamed to backup, a FRESH
    // rewrite intent standing (a hard crash never runs clearIntent)
    assert(f.rename(new org.apache.hadoop.fs.Path(p),
      new org.apache.hadoop.fs.Path(s"${p}__graft_old_1_aa")))
    val intent = new org.apache.hadoop.fs.Path(
      s"${p}__graft_commits", "rewrite.intent")
    val out = f.create(intent, true)
    out.write(s"${System.currentTimeMillis()}\trewrite".getBytes("UTF-8"))
    out.close()
    assert(!t.exists)
    // young intent: could be a LIVE swap — defer, don't restore
    val dry = t.vacuumDryRun()
    assert(dry.nonEmpty && dry.forall(_._2 == "defer"),
      s"dry run must report defer under a young intent, got $dry")
    assert(t.vacuum() == 0)
    assert(!t.exists, "vacuum must not restore under a young intent")
    assert(f.exists(new org.apache.hadoop.fs.Path(s"${p}__graft_old_1_aa")),
      "the backup (possibly a live swap's) must not be deleted")
    // aged past the retention horizon the crash is PROVEN: restore re-arms
    f.setTimes(intent, System.currentTimeMillis() - 3L * 3600 * 1000, -1)
    t.vacuum()
    assert(t.exists, "an aged intent must re-arm the mid-swap restore")
    assert(t.read.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a")))
  }
}
