package graft

import java.nio.file.Files
import java.util.concurrent.TimeUnit

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Columnstore, Hypertable}

/** The cross-process contract (SCALE.md §14) verified against a REAL
  * second JVM — its own process, classloader, SparkSession, heldLeases
  * map and lock registry — via [[graft.tools.IsolationChild]]. The
  * same-JVM simulations elsewhere share lock state with the code under
  * test; these do not, matching the reference's `test/isolation/` model
  * of real concurrent sessions.
  */
class RealProcessIsolationSpec extends AnyFunSuite {
  lazy val spark = Graft.session("real-process-isolation-spec", "local[4]", 4)

  private def events = Tables.table(spark, "/root/testdata/sf0.001", "events")

  // the same module-opens the forked test JVM itself runs with (build.sbt)
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private def childCmd(mode: String, rest: String*): Seq[String] = {
    val javaBin = new java.io.File(
      new java.io.File(sys.props("java.home"), "bin"), "java").getAbsolutePath
    (Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx3g", "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"),
      "graft.tools.IsolationChild", mode) ++ rest)
  }

  /** Run the child to completion, draining stdout+stderr (a full pipe
    * would deadlock the child mid-Spark-log).
    */
  private def runChild(cmd: Seq[String], timeoutSec: Long = 300,
      whileAlive: () => Unit = () => ()): (Int, String) = {
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new java.lang.StringBuilder
    val drain = new Thread(() => {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getInputStream))
      var l = r.readLine()
      while (l != null) {
        out.synchronized { out.append(l).append('\n') }
        l = r.readLine()
      }
    }, "child-drain")
    drain.setDaemon(true)
    drain.start()
    val deadline = System.nanoTime() + timeoutSec * 1000000000L
    while (p.isAlive && System.nanoTime() < deadline) {
      whileAlive()
      p.waitFor(200, TimeUnit.MILLISECONDS)
    }
    if (p.isAlive) { p.destroyForcibly(); fail(s"child timed out: $cmd") }
    drain.join(5000)
    (p.exitValue(), out.synchronized(out.toString))
  }

  test("a second PROCESS attempting a mutation is refused naming this " +
    "process as the holder; after release it succeeds and hands back") {
    val dir = Files.createTempDirectory("graft_realproc_lease").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days")
    ht.write(events)
    // a rewrite-class op claims the EXCLUSIVE lease (appends take the
    // shared class since the round-10 lease split)
    ht.updateWhere(col("event_id") === -1L, Map("value" -> lit(0.0)))
    val (code, out) = runChild(childCmd("mutate", s"$dir/ht"))
    assert(code === 3, s"child must be refused while our lease is fresh:\n$out")
    assert(out.contains("REFUSED") && out.contains("another process"),
      s"refusal must be the loud lease message:\n$out")
    assert(out.contains(Hypertable.processId),
      s"refusal must NAME this process as the holder:\n$out")
    // graceful handoff: release, and the same child command now mutates
    Hypertable.releaseMutatorLease(spark, s"$dir/ht")
    val (code2, out2) = runChild(childCmd("mutate", s"$dir/ht"))
    assert(code2 === 0 && out2.contains("MUTATED"),
      s"child must mutate after the handoff:\n$out2")
    // the child exited gracefully (its shutdown hook released), so this
    // process can take the table back without waiting out staleness
    val fs = new Path(s"$dir/ht")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"$dir/ht", "_graft_mutator_lease")),
      "a gracefully exited child must release its lease")
    assert(ht.deleteWhere(col("event_id") === 2) >= 0)
    assert(ht.read().count() === events.count() - 1)
  }

  test("the mirror direction: while a second process HOLDS the lease, " +
    "this process's mutations refuse naming it; its graceful exit hands back") {
    val dir = Files.createTempDirectory("graft_realproc_hold").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days")
    ht.write(events)
    // hand the table off so the child can claim it
    Hypertable.releaseMutatorLease(spark, s"$dir/ht")
    val pb = new ProcessBuilder(childCmd("hold", s"$dir/ht", "20000"): _*)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new java.lang.StringBuilder
    @volatile var heldOwner: Option[String] = None
    val drain = new Thread(() => {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getInputStream))
      var l = r.readLine()
      while (l != null) {
        out.synchronized { out.append(l).append('\n') }
        if (l.startsWith("HELD ")) heldOwner = Some(l.stripPrefix("HELD ").trim)
        l = r.readLine()
      }
    }, "hold-drain")
    drain.setDaemon(true)
    drain.start()
    try {
      val deadline = System.nanoTime() + 240L * 1000000000L
      while (heldOwner.isEmpty && p.isAlive && System.nanoTime() < deadline)
        Thread.sleep(200)
      assert(heldOwner.nonEmpty,
        s"child never claimed the lease:\n${out.synchronized(out.toString)}")
      // our mutation must refuse, naming the CHILD process
      val e = intercept[IllegalStateException] {
        ht.updateWhere(col("event_id") === 5, Map("value" -> lit(0.0)))
      }
      assert(e.getMessage.contains("another process") &&
        e.getMessage.contains(heldOwner.get),
        s"refusal must name the child holder ${heldOwner.get}: ${e.getMessage}")
      // reads are never fenced
      assert(ht.read().count() === events.count())
    } finally {
      p.destroy() // graceful SIGTERM -> the child's shutdown hook releases
      p.waitFor(60, TimeUnit.SECONDS)
      if (p.isAlive) p.destroyForcibly()
    }
    drain.join(5000)
    // after the graceful exit the lease is gone and we can mutate again
    val fs = new Path(s"$dir/ht")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val deadline2 = System.nanoTime() + 30L * 1000000000L
    while (fs.exists(new Path(s"$dir/ht", "_graft_mutator_lease")) &&
        System.nanoTime() < deadline2) Thread.sleep(100)
    assert(!fs.exists(new Path(s"$dir/ht", "_graft_mutator_lease")),
      "a SIGTERM'd child must release its lease via the shutdown hook")
    assert(ht.updateWhere(col("event_id") === 5,
      Map("value" -> lit(0.0))) > 0)
  }

  test("lease split: this process streams APPENDS while a second process " +
    "runs the columnstore policy — zero refusals, exactly-once, oracle-exact") {
    // the reference runs concurrent INSERTs alongside compression
    // policies (per-chunk locks, tsl/src/compression/api.c;
    // tsl/test/isolation/specs/compression_ddl_iso.spec). Pre-split,
    // either side would have refused on the other's table-wide lease.
    val dir = Files.createTempDirectory("graft_realproc_split").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts",
      chunkWidth = "7 days", catalog = "table")
    val ev = events
    val total = ev.count()
    ht.write(ev.where(pmod(col("event_id"), lit(8)) === 0))
    val stop = new java.io.File(s"$dir/stop_policy")
    val pb = new ProcessBuilder(
      childCmd("policy", s"$dir/ht", stop.getAbsolutePath, "240000"): _*)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new java.lang.StringBuilder
    @volatile var policyStarted = false
    @volatile var rounds = 0
    val drain = new Thread(() => {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getInputStream))
      var l = r.readLine()
      while (l != null) {
        out.synchronized { out.append(l).append('\n') }
        if (l.startsWith("POLICY_START")) policyStarted = true
        if (l.startsWith("ROUND ")) rounds = l.stripPrefix("ROUND ").trim.toInt
        l = r.readLine()
      }
    }, "policy-drain")
    drain.setDaemon(true)
    drain.start()
    try {
      val deadline = System.nanoTime() + 240L * 1000000000L
      while (!policyStarted && p.isAlive && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(policyStarted,
        s"child never started the policy:\n${out.synchronized(out.toString)}")
      // stream appends WHILE the child (holding the exclusive lease)
      // compresses and decompresses the same chunks — every batch must be
      // accepted (an IllegalStateException here is the pre-split refusal)
      (1 to 7).foreach { k =>
        ht.write(ev.where(pmod(col("event_id"), lit(8)) === k))
      }
      // require genuine overlap: at least one full policy round ran while
      // we appended (the child only counts completed rounds)
      val deadline2 = System.nanoTime() + 120L * 1000000000L
      while (rounds < 2 && p.isAlive && System.nanoTime() < deadline2)
        Thread.sleep(100)
      assert(rounds >= 2, s"policy churn never overlapped the appends " +
        s"(rounds=$rounds):\n${out.synchronized(out.toString)}")
    } finally {
      stop.createNewFile()
      p.waitFor(120, TimeUnit.SECONDS)
      if (p.isAlive) p.destroyForcibly()
    }
    drain.join(5000)
    val o = out.synchronized(out.toString)
    assert(p.exitValue() === 0 && o.contains("POLICY_OK"),
      s"policy child must finish with zero refusals:\n$o")
    // exactly-once, oracle-exact: every appended row visible exactly once
    val ht2 = Hypertable.at(spark, s"$dir/ht")
    assert(ht2.read().count() === total,
      "concurrent policy lost or duplicated appended rows")
    assert(ht2.read().groupBy("event_id").agg(count(lit(1)).as("n"))
      .where(col("n") =!= 1).isEmpty,
      "a row was duplicated or lost under concurrent append+policy")
  }

  test("THREE-way interleaving (compression_ddl_iso): appends here vs " +
    "columnstore policy in process A vs a reader in process B — the " +
    "reader sees snapshot-consistent, append-monotone states throughout") {
    // tsl/test/isolation/specs/compression_ddl_iso.spec interleaves
    // INSERT, compress_chunk and SELECT sessions; the two-way cases
    // above each pair two roles — this pins all three at once, with the
    // reader asserting mid-rewrite consistency (no duplicated row from a
    // torn generation listing, no shrinking rowset).
    val dir = Files.createTempDirectory("graft_realproc_3way").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts",
      chunkWidth = "7 days", catalog = "table")
    val ev = events
    ht.write(ev.where(pmod(col("event_id"), lit(8)) === 0))
    val stop = new java.io.File(s"$dir/stop_policy")
    val pb = new ProcessBuilder(
      childCmd("policy", s"$dir/ht", stop.getAbsolutePath, "240000"): _*)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new java.lang.StringBuilder
    @volatile var policyStarted = false
    @volatile var rounds = 0
    val drain = new Thread(() => {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getInputStream))
      var l = r.readLine()
      while (l != null) {
        out.synchronized { out.append(l).append('\n') }
        if (l.startsWith("POLICY_START")) policyStarted = true
        if (l.startsWith("ROUND ")) rounds = l.stripPrefix("ROUND ").trim.toInt
        l = r.readLine()
      }
    }, "3way-policy-drain")
    drain.setDaemon(true)
    drain.start()
    try {
      val deadline = System.nanoTime() + 240L * 1000000000L
      while (!policyStarted && p.isAlive && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(policyStarted,
        s"policy child never started:\n${out.synchronized(out.toString)}")
      // run the READER child to completion while THIS process appends in
      // the runChild poll loop — all three roles genuinely overlap
      var next = 1
      val (rcode, rout) = runChild(
        childCmd("read-snapshot", s"$dir/ht", "12"),
        whileAlive = () => if (next <= 7) {
          ht.write(ev.where(pmod(col("event_id"), lit(8)) === next))
          next += 1
        })
      assert(rcode === 0 && rout.contains("SNAP_OK"),
        s"cross-process reader saw an inconsistent mid-rewrite state:\n$rout")
      while (next <= 7) { // reader may finish before all slices landed
        ht.write(ev.where(pmod(col("event_id"), lit(8)) === next))
        next += 1
      }
      val deadline2 = System.nanoTime() + 120L * 1000000000L
      while (rounds < 2 && p.isAlive && System.nanoTime() < deadline2)
        Thread.sleep(100)
      assert(rounds >= 2, s"policy churn never overlapped (rounds=$rounds):\n${
        out.synchronized(out.toString)}")
    } finally {
      stop.createNewFile()
      p.waitFor(120, TimeUnit.SECONDS)
      if (p.isAlive) p.destroyForcibly()
    }
    drain.join(5000)
    assert(p.exitValue() === 0 &&
      out.synchronized(out.toString).contains("POLICY_OK"),
      s"policy child must finish with zero refusals:\n${
        out.synchronized(out.toString)}")
    val got = Hypertable.at(spark, s"$dir/ht").read()
      .select("event_id").collect().map(_.getLong(0))
    assert(got.length === got.distinct.length,
      "three-way interleaving duplicated rows")
    assert(got.sorted.toSeq === ev.select("event_id").collect()
      .map(_.getLong(0)).sorted.toSeq, "three-way interleaving lost rows")
  }

  test("TWO appender processes with FORCED-EQUAL staging attempt-id " +
    "bases append concurrently without colliding in the committer " +
    "staging tree (the claim walk redirects one)") {
    // the round-10 nit: the attempt id is int-typed, so two processes
    // can hash to the same base; pre-round-11 that collision was sticky
    // and nuked one process's in-flight task files. Forcing BOTH
    // children onto base 777 makes every batch contend — the on-disk
    // claim must redirect one side each time.
    val dir = Files.createTempDirectory("graft_realproc_stag").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts",
      chunkWidth = "7 days", catalog = "table")
    ht.write(events.where(pmod(col("event_id"), lit(5)) === 4))
    Hypertable.releaseMutatorLease(spark, s"$dir/ht")
    def forcedCmd(offset: String): Seq[String] = {
      val base = childCmd("append-loop", s"$dir/ht", "2", offset)
      // spark.* system properties flow into the child's SparkConf
      (base.head +: "-Dspark.graft.staging.attemptIdBase=777" +: base.tail)
    }
    val pA = new ProcessBuilder(forcedCmd("0"): _*)
      .redirectErrorStream(true).start()
    val pB = new ProcessBuilder(forcedCmd("2"): _*)
      .redirectErrorStream(true).start()
    def drainOf(p: Process, tag: String): (Thread, java.lang.StringBuilder) = {
      val out = new java.lang.StringBuilder
      val t = new Thread(() => {
        val r = new java.io.BufferedReader(
          new java.io.InputStreamReader(p.getInputStream))
        var l = r.readLine()
        while (l != null) {
          out.synchronized { out.append(l).append('\n') }; l = r.readLine()
        }
      }, s"drain-$tag")
      t.setDaemon(true); t.start(); (t, out)
    }
    val (tA, oA) = drainOf(pA, "sa")
    val (tB, oB) = drainOf(pB, "sb")
    assert(pA.waitFor(240, TimeUnit.SECONDS) && pB.waitFor(240, TimeUnit.SECONDS),
      "forced-collision appender children timed out")
    tA.join(5000); tB.join(5000)
    assert(pA.exitValue() === 0 && oA.synchronized(oA.toString).contains("APPEND_DONE"),
      s"appender A failed under forced-equal attempt ids:\n$oA")
    assert(pB.exitValue() === 0 && oB.synchronized(oB.toString).contains("APPEND_DONE"),
      s"appender B failed under forced-equal attempt ids:\n$oB")
    val got = Hypertable.at(spark, s"$dir/ht").read()
      .select("event_id").collect().map(_.getLong(0))
    assert(got.length === got.distinct.length,
      "forced-equal staging ids duplicated rows")
    assert(got.sorted.toSeq === events.select("event_id").collect()
      .map(_.getLong(0)).sorted.toSeq,
      "forced-equal staging ids lost rows")
  }

  test("catalog stream across processes: this process TAILS " +
    "readStream while a second process appends — every batch " +
    "arrives exactly once") {
    // the stream log's whole point is cross-process tailing: the child
    // appender writes the log entries, this process's source consumes
    // them with O(new files) discovery
    val dir = Files.createTempDirectory("graft_realproc_stream").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts",
      chunkWidth = "7 days", catalog = "table")
    ht.write(events.where(pmod(col("event_id"), lit(5)) === 4).limit(1))
    Hypertable.releaseMutatorLease(spark, s"$dir/ht")
    val stream = ht.readStream() // enables the log BEFORE the child
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = stream.writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.select("event_id").collect().foreach(r => seen.add(r.getLong(0)))
      }
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(300))
      .start()
    try {
      val (code, out) = runChild(childCmd("append-loop", s"$dir/ht", "4"))
      assert(code === 0 && out.contains("APPEND_DONE"),
        s"child appender failed:\n$out")
      // drain: everything the child acked must arrive exactly once
      val want = events.where(pmod(col("event_id"), lit(5)) < 4).count() + 1
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (seen.size < want && System.nanoTime() < deadline)
        Thread.sleep(200)
      assert(seen.size === want,
        s"expected $want rows exactly once, saw ${seen.size}")
      val ids = seen.toArray(Array.empty[java.lang.Long]).map(_.toLong)
      assert(ids.length === ids.distinct.length,
        "a cross-process batch was delivered twice")
    } finally q.stop()
  }

  test("TWO appender processes race the stream-log SEQ CLAIM while this " +
    "process tails: entries come out consecutively sequenced and every " +
    "batch arrives exactly once (round-12 clock-free floor, cross-JVM)") {
    // the round-12 allocation protocol's whole point: two appender HOSTS
    // (arbitrary clocks) serialize on the log's exclusive claim, so a
    // tailing reader's contiguous-seq floor is exact with no skew window
    val dir = Files.createTempDirectory("graft_realproc_seq").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts",
      chunkWidth = "7 days", catalog = "table")
    ht.write(events.where(pmod(col("event_id"), lit(5)) === 4))
    Hypertable.releaseMutatorLease(spark, s"$dir/ht")
    val stream = ht.readStream() // enables the log BEFORE the children
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = stream.writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.select("event_id").collect().foreach(r => seen.add(r.getLong(0)))
      }
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(300))
      .start()
    try {
      val pbA = new ProcessBuilder(
        childCmd("append-loop", s"$dir/ht", "2", "0"): _*)
      val pbB = new ProcessBuilder(
        childCmd("append-loop", s"$dir/ht", "2", "2"): _*)
      pbA.redirectErrorStream(true); pbB.redirectErrorStream(true)
      val (pa, pb) = (pbA.start(), pbB.start())
      def drainP(p: Process, tag: String): (Thread, java.lang.StringBuilder) = {
        val out = new java.lang.StringBuilder
        val t = new Thread(() => {
          val r = new java.io.BufferedReader(
            new java.io.InputStreamReader(p.getInputStream))
          var l = r.readLine()
          while (l != null) {
            out.synchronized { out.append(l).append('\n') }; l = r.readLine()
          }
        }, tag)
        t.setDaemon(true); t.start(); (t, out)
      }
      val (ta, oa) = drainP(pa, "seq-a"); val (tb, ob) = drainP(pb, "seq-b")
      assert(pa.waitFor(240, TimeUnit.SECONDS), "appender A timed out")
      assert(pb.waitFor(240, TimeUnit.SECONDS), "appender B timed out")
      ta.join(5000); tb.join(5000)
      assert(pa.exitValue() === 0 &&
        oa.synchronized(oa.toString).contains("APPEND_DONE"),
        s"appender A failed:\n$oa")
      assert(pb.exitValue() === 0 &&
        ob.synchronized(ob.toString).contains("APPEND_DONE"),
        s"appender B failed:\n$ob")
      // the two processes' four entries carry CONSECUTIVE seqs from 0 —
      // the claim serialized the allocations across JVMs
      val fs = new Path(s"$dir/ht")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val logDir = new Path(s"$dir/ht/_graft_stream_log")
      val seqs = fs.listStatus(logDir)
        .filter(d => d.isDirectory &&
          graft.streaming.StreamLog.streamBucketIdxOf(d.getPath.getName) >= 0)
        .flatMap(d => fs.listStatus(d.getPath)).filter(_.isFile)
        .map(st => graft.streaming.StreamLog.streamEntrySeq(st.getPath.getName))
        .sorted.toSeq
      assert(seqs === (0L until seqs.size).toSeq,
        s"cross-process seq allocation must be consecutive: $seqs")
      assert(seqs.size >= 4, s"expected >=4 entries, got $seqs")
      val want = events.count()
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (seen.size < want && System.nanoTime() < deadline)
        Thread.sleep(200)
      assert(seen.size === want,
        s"expected $want rows exactly once, saw ${seen.size}")
      val ids = seen.toArray(Array.empty[java.lang.Long]).map(_.toLong)
      assert(ids.length === ids.distinct.length,
        "a cross-process batch was delivered twice")
    } finally q.stop()
  }

  test("TWO appender processes share one table concurrently: disjoint " +
    "slices land exactly once, the catalog stays consistent") {
    // the shared append-lease class: appenders never conflict with each
    // other (unique part files per job; manifest commits serialize on
    // the catalog flock; rebirths on the per-dir lock). Two REAL child
    // JVMs append interleaved batches to the same table at once.
    val dir = Files.createTempDirectory("graft_realproc_2app").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts",
      chunkWidth = "7 days", catalog = "table")
    ht.write(events.where(pmod(col("event_id"), lit(5)) === 4))
    Hypertable.releaseMutatorLease(spark, s"$dir/ht")
    val pA = new ProcessBuilder(
      childCmd("append-loop", s"$dir/ht", "2", "0"): _*)
      .redirectErrorStream(true).start()
    val pB = new ProcessBuilder(
      childCmd("append-loop", s"$dir/ht", "2", "2"): _*)
      .redirectErrorStream(true).start()
    def drainOf(p: Process, tag: String): (Thread, java.lang.StringBuilder) = {
      val out = new java.lang.StringBuilder
      val t = new Thread(() => {
        val r = new java.io.BufferedReader(
          new java.io.InputStreamReader(p.getInputStream))
        var l = r.readLine()
        while (l != null) {
          out.synchronized { out.append(l).append('\n') }; l = r.readLine()
        }
      }, s"drain-$tag")
      t.setDaemon(true); t.start(); (t, out)
    }
    val (tA, oA) = drainOf(pA, "a")
    val (tB, oB) = drainOf(pB, "b")
    assert(pA.waitFor(240, TimeUnit.SECONDS) && pB.waitFor(240, TimeUnit.SECONDS),
      "appender children timed out")
    tA.join(5000); tB.join(5000)
    assert(pA.exitValue() === 0 && oA.synchronized(oA.toString).contains("APPEND_DONE"),
      s"appender A failed:\n$oA")
    assert(pB.exitValue() === 0 && oB.synchronized(oB.toString).contains("APPEND_DONE"),
      s"appender B failed:\n$oB")
    // exactly-once union through a FRESH handle (manifest-resolved)
    val got = Hypertable.at(spark, s"$dir/ht").read()
      .select("event_id").collect().map(_.getLong(0))
    assert(got.length === got.distinct.length,
      "concurrent appenders duplicated rows")
    assert(got.sorted.toSeq === events.select("event_id").collect()
      .map(_.getLong(0)).sorted.toSeq,
      "concurrent appenders lost rows")
  }

  test("cagg_concurrent_refresh port: a second PROCESS refreshes the same " +
    "cagg under live ingest — the claimed refresh lock serializes the " +
    "swaps and the materialization converges to the direct aggregation") {
    val dir = Files.createTempDirectory("graft_realproc_cagg").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts",
      chunkWidth = "7 days", catalog = "table")
    val ev = events
    ht.write(ev.where(pmod(col("event_id"), lit(4)) === 0))
    val defn = graft.streaming.CaggDef("1 hour", Seq("event_type"),
      Seq(count(lit(1)).as("n")))
    val cagg = graft.streaming.ContinuousAggregate.create(
      spark, s"$dir/cagg", ht, defn)
    cagg.refreshAll()
    val pb = new ProcessBuilder(
      childCmd("cagg-refresh", s"$dir/cagg", s"$dir/ht", "5"): _*)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new java.lang.StringBuilder
    @volatile var childRounds = 0
    val drain = new Thread(() => {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getInputStream))
      var l = r.readLine()
      while (l != null) {
        out.synchronized { out.append(l).append('\n') }
        if (l.startsWith("CAGG_ROUND "))
          childRounds = l.stripPrefix("CAGG_ROUND ").trim.toInt
        l = r.readLine()
      }
    }, "cagg-child-drain")
    drain.setDaemon(true)
    drain.start()
    try {
      // race: ingest + forced refresh from THIS process while the child
      // force-refreshes the same window
      (1 to 3).foreach { k =>
        ht.write(ev.where(pmod(col("event_id"), lit(4)) === k))
        cagg.refreshAll(force = true)
      }
      assert(p.waitFor(240, TimeUnit.SECONDS), "cagg-refresh child timed out")
    } finally if (p.isAlive) p.destroyForcibly()
    drain.join(5000)
    val o = out.synchronized(out.toString)
    assert(p.exitValue() === 0 && o.contains("CAGG_OK"),
      s"concurrent cross-process refresh failed:\n$o")
    assert(childRounds >= 5, s"child must have completed its rounds:\n$o")
    // quiesce, then the cagg must equal the direct aggregation exactly
    cagg.refreshAll(force = true)
    val mat = cagg.materialized.select("bucket", "event_type", "n")
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2)))
      .toSet
    val direct = ht.read()
      .groupBy(graft.functions.time_bucket("1 hour", col("ts")).as("bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2)))
      .toSet
    assert(mat === direct,
      "concurrent refreshes left a torn/diverged materialization")
  }

  test("cagg invalidation isolation across THREE processes " +
    "(cagg_drop_chunks_iso / the invalidation-log txn dance): a " +
    "mid-refresh reader never sees a bucket double-counted " +
    "(materialized + live), and late-data repair survives a concurrent " +
    "policy refresh in another process") {
    // tsl/test/isolation/specs/cagg_drop_chunks_iso.spec +
    // tsl/src/continuous_aggs/invalidation.c: process A force-refreshes
    // (the policy role), process B reads the realtime view and checks
    // exactly-once per bucket, THIS process ingests late rows (below the
    // established watermark — the invalidation-repair path) throughout.
    val dir = Files.createTempDirectory("graft_realproc_cagginv").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts",
      chunkWidth = "7 days", catalog = "table")
    ht.write(events.where(pmod(col("event_id"), lit(4)) === 0))
    val defn = graft.streaming.CaggDef("1 hour", Seq("event_type"),
      Seq(count(lit(1)).as("n")))
    val cagg = graft.streaming.ContinuousAggregate.create(
      spark, s"$dir/cagg", ht, defn)
    // establish the watermark over the full time range: every subsequent
    // write is LATE data whose repair flows through the invalidation log
    cagg.refreshAll(force = true)
    def spawn(cmd: Seq[String], tag: String)
        : (Process, java.lang.StringBuilder, Thread) = {
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectErrorStream(true)
      val p = pb.start()
      val out = new java.lang.StringBuilder
      val drain = new Thread(() => {
        val r = new java.io.BufferedReader(
          new java.io.InputStreamReader(p.getInputStream))
        var l = r.readLine()
        while (l != null) {
          out.synchronized { out.append(l).append('\n') }
          l = r.readLine()
        }
      }, s"$tag-drain")
      drain.setDaemon(true); drain.start()
      (p, out, drain)
    }
    val (refresher, outA, drainA) = spawn(
      childCmd("cagg-refresh", s"$dir/cagg", s"$dir/ht", "6"), "cagginv-a")
    val (reader, outB, drainB) = spawn(
      childCmd("cagg-read-loop", s"$dir/cagg", s"$dir/ht", "8"), "cagginv-b")
    try {
      (1 to 3).foreach { k =>
        ht.write(events.where(pmod(col("event_id"), lit(4)) === k))
        // columnstore policy churn on the cagg itself: the conversion
        // publishes NEW mat generations (round 12) — the reader in
        // process B must never see a torn layout mid-swap either
        if (k == 2) { cagg.compressMaterialization(); () }
        Thread.sleep(500) // let a child refresh/read overlap the repair
      }
      assert(refresher.waitFor(240, TimeUnit.SECONDS),
        "cagg-refresh child timed out")
      assert(reader.waitFor(240, TimeUnit.SECONDS),
        "cagg-read-loop child timed out")
    } finally {
      if (refresher.isAlive) refresher.destroyForcibly()
      if (reader.isAlive) reader.destroyForcibly()
    }
    drainA.join(5000); drainB.join(5000)
    val (oA, oB) = (outA.synchronized(outA.toString),
      outB.synchronized(outB.toString))
    assert(refresher.exitValue() === 0 && oA.contains("CAGG_OK"),
      s"policy refresher failed under late-data repair:\n$oA")
    assert(reader.exitValue() === 0 && oB.contains("CAGG_READS_OK"),
      s"realtime reader saw a torn bucket (double-count or shrink):\n$oB")
    // quiesce: the repaired materialization equals the direct aggregation
    cagg.refreshAll(force = true)
    val mat = cagg.materialized.select("bucket", "event_type", "n")
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2)))
      .toSet
    val direct = ht.read()
      .groupBy(graft.functions.time_bucket("1 hour", col("ts")).as("bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2)))
      .toSet
    assert(mat === direct,
      "late-data repair diverged under a concurrent cross-process refresh")
  }

  test("cagg_drop_chunks_iso DROP arm: drop_chunks on the RAW hypertable " +
    "racing a cagg repair-refresh and a realtime reader in two other " +
    "processes — every bucket is all-or-nothing through the drop, and " +
    "the invalidation cut neither loses nor double-applies a range") {
    // tsl/test/isolation/specs/cagg_drop_chunks_iso.spec (the actual drop
    // variant; the refresh-vs-reader-vs-late-ingest variant is the case
    // above) + src/chunk.c:4064-4101 (drop_chunks logs cagg
    // invalidations over the removed ranges): THIS process drops raw
    // chunks, process A repair-refreshes the logged invalidations,
    // process B asserts all-or-nothing realtime bucket counts.
    val dir = Files.createTempDirectory("graft_realproc_caggdrop").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts",
      chunkWidth = "7 days", catalog = "table")
    ht.write(events)
    val defn = graft.streaming.CaggDef("1 hour", Seq("event_type"),
      Seq(count(lit(1)).as("n")))
    val cagg = graft.streaming.ContinuousAggregate.create(
      spark, s"$dir/cagg", ht, defn)
    cagg.refreshAll(force = true) // watermark at the end; fully materialized
    val wmBefore = cagg.watermark
    val chunks = ht.showChunks().sortBy(_.startMicros)
    assert(chunks.size >= 3, s"need ≥3 raw chunks, got ${chunks.size}")
    def spawn(cmd: Seq[String], tag: String)
        : (Process, java.lang.StringBuilder, Thread) = {
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectErrorStream(true)
      val p = pb.start()
      val out = new java.lang.StringBuilder
      val drain = new Thread(() => {
        val r = new java.io.BufferedReader(
          new java.io.InputStreamReader(p.getInputStream))
        var l = r.readLine()
        while (l != null) {
          out.synchronized { out.append(l).append('\n') }
          l = r.readLine()
        }
      }, s"$tag-drain")
      drain.setDaemon(true); drain.start()
      (p, out, drain)
    }
    val (repairer, outA, drainA) = spawn(
      childCmd("cagg-repair-loop", s"$dir/cagg", s"$dir/ht", "8"),
      "caggdrop-a")
    val (reader, outB, drainB) = spawn(
      childCmd("cagg-read-drop", s"$dir/cagg", s"$dir/ht", "10"),
      "caggdrop-b")
    try {
      Thread.sleep(1500) // let both children establish their first view
      ht.dropChunks(chunks(0).endMicros)
      Thread.sleep(1200) // a repair pass + reads overlap the first drop
      ht.dropChunks(chunks(1).endMicros)
      assert(repairer.waitFor(240, TimeUnit.SECONDS),
        "cagg-repair-loop child timed out")
      assert(reader.waitFor(240, TimeUnit.SECONDS),
        "cagg-read-drop child timed out")
    } finally {
      if (repairer.isAlive) repairer.destroyForcibly()
      if (reader.isAlive) reader.destroyForcibly()
    }
    drainA.join(5000); drainB.join(5000)
    val (oA, oB) = (outA.synchronized(outA.toString),
      outB.synchronized(outB.toString))
    assert(repairer.exitValue() === 0 && oA.contains("CAGG_REPAIR_OK"),
      s"repair refresher failed under concurrent raw drops:\n$oA")
    assert(reader.exitValue() === 0 && oB.contains("CAGG_DROP_READS_OK"),
      s"realtime reader saw a torn/resurrected bucket through the drop:\n$oB")
    // quiesce: remaining pending invalidations repaired here; the mat
    // equals the direct aggregation over the REMAINING raw rows (the
    // dropped region's buckets are gone — re-materialized from what's
    // left, the reference's drop-invalidation contract), and the
    // watermark never receded (raw drops leave the seam alone)
    cagg.refreshInvalidated()
    val mat = cagg.materialized.select("bucket", "event_type", "n")
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2)))
      .toSet
    val direct = ht.read()
      .groupBy(graft.functions.time_bucket("1 hour", col("ts")).as("bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2)))
      .toSet
    assert(mat === direct,
      "drop-invalidation repair diverged under cross-process concurrency")
    assert(cagg.watermark === wmBefore,
      "a raw drop_chunks must not recede the cagg watermark")
  }

  test("read_committed_insert port: a second-process reader sees exactly " +
    "the committed rows after each insert commit") {
    // test/isolation/specs/read_committed_insert.spec: a concurrent
    // session's SELECT after the INSERT's commit sees the new rows; graft
    // maps commit visibility to write() returning (data job + catalog
    // sync complete) and a FRESH cross-process handle.
    val dir = Files.createTempDirectory("graft_realproc_rc").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts",
      chunkWidth = "7 days", catalog = "table")
    val a = events.where(pmod(col("event_id"), lit(2)) === 0)
    val b = events.where(pmod(col("event_id"), lit(2)) === 1)
    val (na, nb) = (a.count(), b.count())
    ht.write(a)
    val (c1, o1) = runChild(childCmd("read-expect", s"$dir/ht", na.toString))
    assert(c1 === 0 && o1.contains(s"COUNT_OK $na"),
      s"reader must see the first committed insert:\n$o1")
    ht.write(b)
    val (c2, o2) = runChild(
      childCmd("read-expect", s"$dir/ht", (na + nb).toString))
    assert(c2 === 0 && o2.contains(s"COUNT_OK ${na + nb}"),
      s"reader must see the second committed insert at its boundary:\n$o2")
  }

  test("a READER in a second process sees snapshot-consistent chunk sets " +
    "while this process churns compress/decompress rewrites") {
    val dir = Files.createTempDirectory("graft_realproc_snap").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days",
      catalog = "table")
    ht.write(events)
    val n = ht.read().count()
    val opts = Columnstore.Options(orderBy = Seq("ts"))
    // churn PURE rewrites (row-count preserving) from this process while
    // the child re-opens and re-counts: any count != n in the child is a
    // torn snapshot (mixed generations, vanished chunk, double-listed gen)
    var churnRounds = 0
    val churn: () => Unit = () => {
      val cs = ht.showChunks()
      if (cs.nonEmpty) {
        val c = cs(churnRounds % cs.size)
        Columnstore.compressChunk(spark, c.path, opts)
        val c2 = Hypertable.at(spark, s"$dir/ht").showChunks()
          .find(_.startMicros == c.startMicros).get
        Columnstore.decompressChunk(spark, c2.path)
        churnRounds += 1
      }
    }
    val (code, out) = runChild(
      childCmd("read-loop", s"$dir/ht", "12"), whileAlive = churn)
    assert(code === 0, s"cross-process reader saw a torn snapshot:\n$out")
    assert(out.contains(s"READS_OK $n"), s"unexpected child output:\n$out")
    assert(churnRounds >= 2,
      s"churn must actually overlap the child's reads (did $churnRounds rounds)")
    // quiesced: the batch view is intact after the churn
    assert(Hypertable.at(spark, s"$dir/ht").read().count() === n)
  }

  test("merge_chunks_concurrent port: a READER in a second process sees " +
    "snapshot-consistent counts while this process churns merge_chunks " +
    "+ split_chunk rewrites") {
    // tsl/test/isolation/specs/merge_chunks_concurrent.spec: a SELECT
    // concurrent with merge_chunks sees the pre- or post-merge chunk set,
    // never a torn one (double-listed rows mid-swap, or a vanished chunk
    // between the delete and the merged publish). Merge+split are
    // row-preserving, so any child count != the seed count is a tear.
    val dir = Files.createTempDirectory("graft_realproc_merge").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days",
      catalog = "table")
    ht.write(events)
    val n = ht.read().count()
    var churnRounds = 0
    val churn: () => Unit = () => {
      val h = Hypertable.at(spark, s"$dir/ht")
      val cs = h.showChunks().sortBy(_.startMicros)
      if (cs.size >= 2) {
        val boundary = cs(1).startMicros
        h.mergeChunks(cs(0).startMicros, cs(1).startMicros)
        Hypertable.at(spark, s"$dir/ht")
          .splitChunk(cs(0).startMicros, boundary)
        churnRounds += 1
      }
    }
    val (code, out) = runChild(
      childCmd("read-loop", s"$dir/ht", "12"), whileAlive = churn)
    assert(code === 0,
      s"cross-process reader saw a torn merge/split snapshot:\n$out")
    assert(out.contains(s"READS_OK $n"), s"unexpected child output:\n$out")
    assert(churnRounds >= 2,
      s"churn must overlap the child's reads (did $churnRounds rounds)")
    assert(Hypertable.at(spark, s"$dir/ht").read().count() === n)
  }

  test("insert_dropchunks_race port: a second-process APPEND racing " +
    "drop_chunks in this process never tears — every appended slice is " +
    "all-or-nothing per chunk range and ids stay distinct") {
    // test/isolation/specs/insert_dropchunks_race.spec (+ dropchunks_race
    // .spec): an INSERT concurrent with drop_chunks either commits before
    // the drop (its rows go with the chunk) or lands after (recreating
    // the range); the reference never exposes a half-dropped chunk to
    // either session. Here the appender is a REAL second process: any
    // torn interleaving surfaces as a (slice, chunk-range) cell that is
    // neither empty nor complete, or as a duplicated id (a drop+rebirth
    // double-listing a batch's files).
    val dir = Files.createTempDirectory("graft_realproc_insdrop").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts",
      chunkWidth = "7 days", catalog = "table")
    ht.write(events.where(pmod(col("event_id"), lit(5)) === 0)) // seed
    val ranges = ht.showChunks().sortBy(_.startMicros)
      .map(c => (c.startMicros, c.endMicros))
    assert(ranges.size >= 3, s"need ≥3 chunks, got ${ranges.size}")
    val pb = new ProcessBuilder(
      childCmd("append-loop", s"$dir/ht", "4", "1"): _*)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new java.lang.StringBuilder
    val drain = new Thread(() => {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getInputStream))
      var l = r.readLine()
      while (l != null) { out.synchronized { out.append(l).append('\n') }; l = r.readLine() }
    }, "insdrop-drain")
    drain.setDaemon(true); drain.start()
    var drops = 0
    try {
      // drop the two oldest ranges while the child is mid-append-stream:
      // one after its first committed batch, one after its third
      val deadline = System.nanoTime() + 240L * 1000000000L
      // keep draining until both drops ran (post-exit the APPENDED lines
      // are already buffered, so the drops still execute — sequentially
      // rather than interleaved — instead of flaking the assert below)
      while (drops < 2 && System.nanoTime() < deadline) {
        val o = out.synchronized(out.toString)
        if (drops == 0 && o.contains("APPENDED 1")) {
          ht.dropChunks(ranges(0)._2); drops += 1
        } else if (drops == 1 && o.contains("APPENDED 3")) {
          ht.dropChunks(ranges(1)._2); drops += 1
        } else Thread.sleep(100)
      }
      assert(p.waitFor(240, TimeUnit.SECONDS),
        s"append child timed out:\n${out.synchronized(out.toString)}")
    } finally if (p.isAlive) p.destroyForcibly()
    drain.join(5000)
    val o = out.synchronized(out.toString)
    assert(p.exitValue() === 0 && o.contains("APPEND_DONE"),
      s"cross-process appender failed mid-drop-race:\n$o")
    assert(drops === 2, s"both drops must have interleaved the appends:\n$o")
    // quiesced state: no duplicate ids anywhere...
    val re = Hypertable.at(spark, s"$dir/ht").read()
    val agg = re.agg(count(lit(1)), countDistinct(col("event_id"))).collect()(0)
    assert(agg.getLong(0) === agg.getLong(1),
      s"drop+rebirth duplicated rows: ${agg.getLong(0)} vs ${agg.getLong(1)} distinct")
    // ...and every (slice, chunk-range) cell is ALL-OR-NOTHING: a torn
    // drop (chunk half-removed under the appender) would leave a partial
    // map each row to its PRE-RACE chunk range (time_bucket boundaries
    // follow the reference origin, so derive cells from the actual chunk
    // list, not epoch arithmetic); -1 = outside every seed range
    val rangeExpr = ranges.zipWithIndex.foldLeft(lit(-1)) {
      case (acc, ((s, e), i)) =>
        when(unix_micros(col("ts")) >= s && unix_micros(col("ts")) < e,
          lit(i)).otherwise(acc)
    }
    def cells(df: org.apache.spark.sql.DataFrame): Map[(Int, Int), Long] =
      df.groupBy(pmod(col("event_id"), lit(5)).cast("int").as("slice"),
          rangeExpr.as("range"))
        .count()
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2))
        .toMap
    val expected = cells(events)
    val observed = cells(re)
    observed.foreach { case (cell, n) =>
      assert(expected.get(cell).contains(n),
        s"torn cell $cell: observed $n, expected ${expected.get(cell)} or absent")
    }
    assert(agg.getLong(0) > 0)
  }

  test("a cross-process RAW reader SLOWER than gc.graceMs keeps its " +
    "planned generation (reader-epoch exactness on the hypertable side): " +
    "the GC walk yields to the live epoch and reclaims once it is gone") {
    // the raw twin of the cagg slow-reader case below: the round-9..12
    // contract was "a query must finish within gc.graceMs of its
    // planning, or re-plan" — ReaderEpochs makes it exact for
    // registered readers. A chunk REWRITE (columnstore conversion)
    // supersedes the generation the child planned; the grace expires
    // while the child still holds; the GC walk must keep the superseded
    // dir until the child finishes.
    val dir = Files.createTempDirectory("graft_realproc_rawslow").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days",
      catalog = "table")
    ht.write(events)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the GC walk runs only in the exclusive-lease holder
    ht.updateWhere(col("event_id") === -1L, Map("value" -> lit(0.0)))
    val victim = ht.showChunks().sortBy(_.startMicros).head
    val oldGen = new Path(victim.path) // the live _gen dir the child plans
    val signal = new java.io.File(s"$dir/reader_may_finish")
    val pb = new ProcessBuilder(childCmd("slow-read", s"$dir/ht",
      signal.getAbsolutePath): _*)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new java.lang.StringBuilder
    val drain = new Thread(() => {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getInputStream))
      var l = r.readLine()
      while (l != null) { out.synchronized { out.append(l).append('\n') }; l = r.readLine() }
    }, "rawslow-drain")
    drain.setDaemon(true); drain.start()
    try {
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (!out.synchronized(out.toString).contains("RAW_PLANNED") &&
          p.isAlive && System.nanoTime() < deadline)
        Thread.sleep(200)
      assert(out.synchronized(out.toString).contains("RAW_PLANNED"),
        s"child never planned:\n${out.synchronized(out.toString)}")
      // rewrite the chunk: columnstore conversion publishes a NEW
      // generation and stamps the planned one superseded
      graft.sources.Columnstore.compressChunk(spark, victim.path,
        graft.sources.Columnstore.Options(orderBy = Seq("ts")))
      assert(fs.exists(new Path(oldGen, ".graft_superseded")),
        "the conversion must stamp the planned generation superseded")
      try {
        spark.conf.set("spark.graft.gc.graceMs", "100")
        Thread.sleep(300) // grace EXPIRES while the reader still holds
        graft.sources.ReaderEpochs.expireAll() // only the CHILD's epoch counts
        ht.refreshChunkCatalog() // runs the GC walk under the held lease
        assert(fs.exists(oldGen),
          "GC reaped the planned generation despite the live reader epoch")
        // let the reader finish against the retained files
        assert(signal.createNewFile())
        assert(p.waitFor(120, TimeUnit.SECONDS),
          s"child timed out:\n${out.synchronized(out.toString)}")
        drain.join(5000)
        val o = out.synchronized(out.toString)
        assert(p.exitValue() === 0 && o.contains("SLOW_RAW_OK"),
          s"slow raw reader lost planned files through the GC:\n$o")
        // reader gone: age any remnant epoch file -> the walk reclaims
        val rdir = new Path(s"$dir/ht/_graft_readers")
        try fs.listStatus(rdir).foreach(st =>
          fs.setTimes(st.getPath, 1000L, 1000L))
        catch { case _: java.io.FileNotFoundException => () }
        graft.sources.ReaderEpochs.expireAll()
        ht.refreshChunkCatalog()
        assert(!fs.exists(oldGen),
          "GC must reclaim the superseded generation once no live epoch remains")
      } finally spark.conf.unset("spark.graft.gc.graceMs")
    } finally {
      if (p.isAlive) p.destroyForcibly()
    }
  }

  test("a cross-process cagg reader SLOWER than gc.graceMs keeps its " +
    "planned generation files (reader-epoch exactness): GC past the grace " +
    "yields to the live epoch and reclaims once the reader is gone") {
    // the round-12 contract was wall-clock only ("raise the grace above
    // the longest read" — the Delta-vacuum class); ReaderEpochs makes
    // it exact for registered readers. Here the GRACE IS EXCEEDED while
    // the reader holds its plan across a refresh that retires every
    // planned generation — without the epoch the second collect loses
    // files; with it both collects agree exactly.
    val dir = Files.createTempDirectory("graft_realproc_slowread").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days")
    ht.write(events)
    val defn = graft.streaming.CaggDef("1 hour", Seq("event_type"),
      Seq(count(lit(1)).as("n")))
    val cagg = graft.streaming.ContinuousAggregate.create(
      spark, s"$dir/cagg", ht, defn)
    cagg.refreshAll(force = true)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val signal = new java.io.File(s"$dir/reader_may_finish")
    val pb = new ProcessBuilder(childCmd("cagg-slow-read", s"$dir/cagg",
      s"$dir/ht", signal.getAbsolutePath): _*)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new java.lang.StringBuilder
    val drain = new Thread(() => {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getInputStream))
      var l = r.readLine()
      while (l != null) { out.synchronized { out.append(l).append('\n') }; l = r.readLine() }
    }, "slowread-drain")
    drain.setDaemon(true); drain.start()
    try {
      // wait until the child has PLANNED (and registered its epoch)
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (!out.synchronized(out.toString).contains("MAT_PLANNED") &&
          p.isAlive && System.nanoTime() < deadline)
        Thread.sleep(200)
      assert(out.synchronized(out.toString).contains("MAT_PLANNED"),
        s"child never planned:\n${out.synchronized(out.toString)}")
      // late row -> repair refresh retires every planned generation
      import spark.implicits._
      val planned = cagg.readMatCatalog().get.chunks.map(_.rel)
      val late = Seq((990001L, java.sql.Timestamp.valueOf("2024-01-03 07:30:00"),
        9L, "click", 999.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      cagg.ingest(late)
      cagg.refreshInvalidated()
      val live = cagg.readMatCatalog().get.chunks.map(_.rel).toSet
      val retiredRels = planned.filterNot(live)
      assert(retiredRels.nonEmpty,
        "the repair refresh must retire the planned generations")
      try {
        spark.conf.set("spark.graft.gc.graceMs", "100")
        Thread.sleep(300) // grace EXPIRES while the reader still holds
        cagg.dropMatChunks(Long.MinValue) // catalog sync -> GC pass
        retiredRels.foreach { rel =>
          assert(fs.exists(new Path(s"$dir/cagg/mat/$rel")),
            s"GC deleted $rel despite the live cross-process reader epoch")
        }
        // let the reader finish its held plan against the retained files
        assert(signal.createNewFile())
        val finished = p.waitFor(120, TimeUnit.SECONDS)
        assert(finished, s"child timed out:\n${out.synchronized(out.toString)}")
        drain.join(5000)
        val o = out.synchronized(out.toString)
        assert(p.exitValue() === 0 && o.contains("SLOW_READ_OK"),
          s"slow reader lost planned files through the GC:\n$o")
        // reader gone (its shutdown hook drops the epoch; stale-age any
        // remnant) -> the same GC now reclaims
        val rdir = new Path(s"$dir/cagg/_graft_readers")
        try fs.listStatus(rdir).foreach(st =>
          fs.setTimes(st.getPath, 1000L, 1000L))
        catch { case _: java.io.FileNotFoundException => () }
        cagg.dropMatChunks(Long.MinValue)
        retiredRels.foreach { rel =>
          assert(!fs.exists(new Path(s"$dir/cagg/mat/$rel")),
            s"GC must reclaim $rel once no live reader epoch remains")
        }
      } finally spark.conf.unset("spark.graft.gc.graceMs")
    } finally {
      if (p.isAlive) p.destroyForcibly()
    }
  }
}
