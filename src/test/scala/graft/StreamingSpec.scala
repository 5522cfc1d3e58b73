package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.core._

/** Structured Streaming coverage — SURVEY.md §2.D:
  *   D1 windowed aggregation + watermark over a file stream (the
  *      streaming form of q20_events_window);
  *   D2 gap-based sessionization with flatMapGroupsWithState
  *      (event-time timeouts — the reference has no equivalent; this is
  *      the custom-state primitive its watch-mode users would need);
  *   D3 streaming view maintenance: file stream → the SAME declarative
  *      map pipeline as batch indexing → append sink (A4 watch mode,
  *      reference indexer.js:67).
  */
class StreamingSpec extends SparkSpec {

  private def writeFile(dir: Path, name: String, lines: Seq[String]): Unit = {
    Files.createDirectories(dir)
    // write-then-rename so the file stream never sees partial content
    val tmp = dir.resolve(name + "._tmp")
    Files.write(tmp, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(name),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Overwrite + force the mtime (fversion) STRICTLY forward, so the edit
    * is visible to change detection even inside one clock millisecond.
    */
  private def editFile(dir: Path, name: String, lines: Seq[String]): Unit = {
    val p = dir.resolve(name)
    val oldM =
      if (Files.exists(p)) Files.getLastModifiedTime(p).toMillis else 0L
    writeFile(dir, name, lines)
    // +5ms past both the clock and the old stamp: the catalog version v
    // was captured at some wall time <= now, so this is strictly > v
    Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(
      math.max(System.currentTimeMillis(), oldM) + 5))
  }

  private def eventually(timeoutMs: Long = 60000)(cond: => Boolean): Unit = {
    // a read racing the watcher's partition overwrite can transiently
    // throw (file listed, then replaced) — treat that as "not yet"
    def check: Boolean = try cond catch { case _: Throwable => false }
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!check && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(check, s"condition not met within ${timeoutMs}ms")
  }

  test("D1: windowed agg + watermark over events file stream (append mode)") {
    val in = Files.createTempDirectory("graft-d1-in")
    val ckpt = Files.createTempDirectory("graft-d1-ckpt")
    val schema = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))

    val agg = spark.readStream.schema(schema).json(in.toString)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("total"))

    val q = agg.writeStream
      .outputMode(OutputMode.Append)
      .format("memory").queryName("d1_sink")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      writeFile(in, "b1.json", Seq(
        """{"ts":"2026-01-01T10:00:00","event_type":"click","value":1.0}""",
        """{"ts":"2026-01-01T10:30:00","event_type":"click","value":2.0}""",
        """{"ts":"2026-01-01T10:15:00","event_type":"view","value":5.0}"""))
      q.processAllAvailable()
      // watermark (10:30 - 10m = 10:20) hasn't passed 11:00 — nothing emits
      assert(spark.table("d1_sink").count() == 0)

      writeFile(in, "b2.json", Seq(
        """{"ts":"2026-01-01T12:30:00","event_type":"click","value":3.0}"""))
      q.processAllAvailable()
      writeFile(in, "b3.json", Seq(
        """{"ts":"2026-01-01T13:00:00","event_type":"view","value":4.0}"""))
      q.processAllAvailable()

      // wm = 12:20 after b2's max — the 10:00 window finalized in b3
      val rows = spark.table("d1_sink")
        .orderBy("w_start", "event_type")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(rows.toSeq == Seq(
        ("2026-01-01 10:00:00.0", "click", 2L, 3.0),
        ("2026-01-01 10:00:00.0", "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("D1b: streaming aggregation over the real events table == batch result") {
    // same aggregation, two execution modes — the structural guarantee
    // that lets a pipeline promote a batch query to a stream unchanged
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ckpt = Files.createTempDirectory("graft-d1b-ckpt")
    val dir = sf("sf0.001")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema

    def shape(df: org.apache.spark.sql.DataFrame) = {
      graft.core.Tables.normalizeTs(df)
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
    }

    // the file stream source wants a directory; stage the table into one
    val staged = Files.createTempDirectory("graft-d1b-in")
    Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      staged.resolve("events.parquet"))

    val q = shape(spark.readStream.schema(schema).parquet(staged.toString))
      .writeStream.outputMode("complete")
      .format("memory").queryName("d1b_sink")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("d1b_sink").orderBy("h", "event_type")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          math.round(r.getDouble(3) * 1e6)))
      val batch = shape(spark.read.parquet(s"$dir/events.parquet"))
        .orderBy("h", "event_type")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          math.round(r.getDouble(3) * 1e6)))
      assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("D2: gap sessionization via flatMapGroupsWithState + event-time timeout") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val ckpt = Files.createTempDirectory("graft-d2-ckpt")

    val sessions = input.toDF.toDF("user", "ts")
      .withWatermark("ts", "0 seconds")
      .as[(String, Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[StreamingSpec.Sess, StreamingSpec.Closed](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(StreamingSpec.sessionize)

    val q = sessions.writeStream
      .outputMode(OutputMode.Append)
      .format("memory").queryName("d2_sink")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      input.addData(("u1", t("2026-01-01 10:00:00")), ("u1", t("2026-01-01 10:10:00")),
        ("u2", t("2026-01-01 10:05:00")))
      q.processAllAvailable()
      input.addData(("u1", t("2026-01-01 12:00:00"))) // gap > 30m closes u1's session
      q.processAllAvailable()
      input.addData(("u3", t("2026-01-01 13:00:00"))) // wm advance times out u2
      q.processAllAvailable()

      val rows = spark.table("d2_sink").orderBy("user", "start")
        .collect().map(r => (r.getString(0), r.getTimestamp(1).toString,
          r.getTimestamp(2).toString, r.getLong(3)))
      // u1's 12:00 singleton also closes: the no-data batch after b3
      // advances the watermark to 13:00, past its 12:30 timeout
      assert(rows.toSeq == Seq(
        ("u1", "2026-01-01 10:00:00.0", "2026-01-01 10:10:00.0", 2L),
        ("u1", "2026-01-01 12:00:00.0", "2026-01-01 12:00:00.0", 1L),
        ("u2", "2026-01-01 10:05:00.0", "2026-01-01 10:05:00.0", 1L)))
    } finally q.stop()
  }

  test("D3: streaming view maintenance — file stream through the view's map to an append sink") {
    val in = Files.createTempDirectory("graft-d3-in")
    val ckpt = Files.createTempDirectory("graft-d3-ckpt")
    val stateRoot = Files.createTempDirectory("graft-d3-state")
    val outDir = s"$stateRoot/tags/entries"

    val db = new Graft(spark, stateRoot.toString)
    db.define("tags", ViewDef(Seq("/*.json"), MapDF { files =>
      val parsed = files.withColumn("j", from_json(col("value"), StructType(Seq(
        StructField("first", StringType), StructField("second", LongType)))))
      GraftFunctions.emitEntry(parsed, Seq(col("j.first")), col("j.second"))
    }, None))

    // archive-shaped STREAMING files DataFrame over a watched directory
    val origin = "dat://watched"
    val files = spark.readStream
      .format("text").option("wholetext", "true")
      .load(in.toString)
      .select(
        lit(origin).as("origin"),
        concat(lit(origin), regexp_replace(col("_metadata.file_path"), "^.*(/[^/]+)$", "$1")).as("url"),
        regexp_replace(col("_metadata.file_path"), "^.*(/[^/]+)$", "$1").as("pathname"),
        col("value"),
        lit(1L).as("fversion"))

    val q = db.streamEntries("tags", files).writeStream
      .outputMode(OutputMode.Append)
      .format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt.toString)
      .partitionBy("ob")
      .start()
    try {
      writeFile(in, "a.json", Seq("""{"first":"alpha","second":1}"""))
      writeFile(in, "b.json", Seq("""{"first":"beta","second":2}"""))
      q.processAllAvailable()
      val after2 = db.listEntries("tags")
      assert(after2.map(e => (e.key, e.value)) == Seq(("alpha", 1.0), ("beta", 2.0)))

      writeFile(in, "c.json", Seq("""{"first":"alpha","second":3}"""))
      q.processAllAvailable()
      val after3 = db.listEntries("tags")
      assert(after3.map(e => (e.key, e.value)) ==
        Seq(("alpha", 1.0), ("alpha", 3.0), ("beta", 2.0)))
    } finally q.stop()
  }

  test("D3b: a stream sink's in-file values at one key read back in value_json order") {
    val in = Files.createTempDirectory("graft-d3b-in")
    val ckpt = Files.createTempDirectory("graft-d3b-ckpt")
    val stateRoot = Files.createTempDirectory("graft-d3b-state")
    val db = new Graft(spark, stateRoot.toString)
    db.define("vals", ViewDef("/*.json", MapDF(GraftEngineSpec.explodeVs(LongType))))
    val origin = "dat://watched-multi"
    val files = spark.readStream
      .format("text").option("wholetext", "true")
      .load(in.toString)
      .select(
        lit(origin).as("origin"),
        concat(lit(origin), regexp_replace(col("_metadata.file_path"), "^.*(/[^/]+)$", "$1")).as("url"),
        regexp_replace(col("_metadata.file_path"), "^.*(/[^/]+)$", "$1").as("pathname"),
        col("value"),
        lit(1L).as("fversion"))
    val q = db.streamEntries("vals", files).writeStream
      .outputMode(OutputMode.Append)
      .format("parquet").option("path", s"$stateRoot/vals/entries")
      .option("checkpointLocation", ckpt.toString)
      .partitionBy("ob")
      .start()
    try {
      writeFile(in, "a.json", Seq("""{"first":"k","vs":[9,10,2,100]}"""))
      q.processAllAvailable()
      // every value has seq 1; the order is the values' JSON
      assert(db.getValue("vals", "k") == Some(Vector(10.0, 100.0, 2.0, 9.0)))
    } finally q.stop()
  }

  test("D4: streaming exact dedup — dropDuplicates with watermark emits each id once") {
    val in = Files.createTempDirectory("graft-d4-in")
    val ckpt = Files.createTempDirectory("graft-d4-ckpt")
    val schema = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("event_id", LongType),
      StructField("payload", StringType)))

    val deduped = spark.readStream.schema(schema).json(in.toString)
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")

    val q = deduped.writeStream
      .outputMode(OutputMode.Append)
      .format("memory").queryName("d4_sink")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      writeFile(in, "b1.json", Seq(
        """{"ts":"2026-01-01T10:00:00","event_id":1,"payload":"a"}""",
        """{"ts":"2026-01-01T10:01:00","event_id":2,"payload":"b"}""",
        """{"ts":"2026-01-01T10:02:00","event_id":1,"payload":"a-dup"}"""))
      q.processAllAvailable()
      // replay of id 1 and a new id in a later batch
      writeFile(in, "b2.json", Seq(
        """{"ts":"2026-01-01T10:10:00","event_id":1,"payload":"a-replay"}""",
        """{"ts":"2026-01-01T10:11:00","event_id":3,"payload":"c"}"""))
      q.processAllAvailable()

      val rows = spark.table("d4_sink").orderBy("event_id")
        .collect().map(r => (r.getLong(1), r.getString(2)))
      assert(rows.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")),
        s"each id exactly once, first occurrence wins: ${rows.toSeq}")
    } finally q.stop()
  }

  test("A4: Graft.watch maintains every defined view continuously") {
    val watched = Files.createTempDirectory("graft-watch-dir")
    val stateRoot = Files.createTempDirectory("graft-watch-state")
    val schema = StructType(Seq(
      StructField("first", StringType), StructField("second", LongType)))

    val db = new Graft(spark, stateRoot.toString)
    db.define("w-tags", ViewDef(Seq("/*.json"), MapDF { files =>
      val parsed = files.withColumn("j", from_json(col("value"), schema))
      GraftFunctions.emitEntry(parsed, Seq(col("j.first")), col("j.second"))
    }, None))
    db.define("w-count", ViewDef(Seq("/*.json"), MapDF { files =>
      val parsed = files.withColumn("j", from_json(col("value"), schema))
      GraftFunctions.emitEntry(parsed, Seq(col("j.first")), lit(1))
    }, Some(Reduce.Count)))

    val origin = "dat://w"
    db.watch(new DirArchive(origin, watched.toString), "200 milliseconds")
    try {
      writeFile(watched, "a.json", Seq("""{"first":"x","second":7}"""))
      writeFile(watched, "b.json", Seq("""{"first":"x","second":8}"""))
      eventually()(db.getValue("w-tags", "x") == Some(Vector(7.0, 8.0)))
      assert(db.getValue("w-count", "x") == Some(2.0))

      writeFile(watched, "c.json", Seq("""{"first":"y","second":9}"""))
      eventually()(db.getValue("w-tags", "y") == Some(Vector(9.0)))
      // reduced views aggregate at read time, so maintained state folds in
      assert(db.getValue("w-count", "x") == Some(2.0))

      // compaction still applies on watch-maintained state
      db.unwatch(origin)
      assert(!db.isWatching(origin))
      db.compact("w-tags")
      assert(db.listEntries("w-tags").map(e => (e.key, e.value)) ==
        Seq(("x", 7.0), ("x", 8.0), ("y", 9.0)))
    } finally db.close()
  }

  test("A4: editing a watched file retracts its old entries; deleting retracts all") {
    val watched = Files.createTempDirectory("graft-watch2-dir")
    val stateRoot = Files.createTempDirectory("graft-watch2-state")
    val schema = StructType(Seq(
      StructField("first", StringType), StructField("second", LongType)))

    val db = new Graft(spark, stateRoot.toString)
    db.define("tags", ViewDef(Seq("/*.json"), MapDF { files =>
      val parsed = files.withColumn("j", from_json(col("value"), schema))
      GraftFunctions.emitEntry(parsed, Seq(col("j.first")), col("j.second"))
    }, None))

    val origin = "dat://w2"
    val events = new java.util.concurrent.ConcurrentLinkedQueue[GraftEvent]()
    db.addListener(events.add(_))

    writeFile(watched, "a.json", Seq("""{"first":"x","second":7}"""))
    writeFile(watched, "b.json", Seq("""{"first":"x","second":8}"""))
    // one-call `index(archive, {watch: true})` (reference index.js:127-141)
    db.index(new DirArchive(origin, watched.toString), watch = true)
    try {
      // the index() half is synchronous
      assert(db.getValue("tags", "x") == Some(Vector(7.0, 8.0)))
      assert(db.isWatching(origin))

      // EDIT under watch: a.json's key moves x→z — the reference re-runs
      // the file through the map and RETRACTS its old entries
      // (indexer.js:82-86, 217-259); an append-only stream would keep 7.0
      editFile(watched, "a.json", Seq("""{"first":"z","second":70}"""))
      eventually()(db.getValue("tags", "z") == Some(Vector(70.0)))
      assert(db.getValue("tags", "x") == Some(Vector(8.0)),
        s"old entry of the edited file must be retracted: ${db.listEntries("tags")}")

      // DELETE under watch retracts the file's entries
      Files.delete(watched.resolve("b.json"))
      eventually()(db.getValue("tags", "x").isEmpty)
      assert(db.getValue("tags", "z") == Some(Vector(70.0)))

      // lifecycle events surfaced: indexing → progress → indexed → updated
      val kinds = events.toArray.map(_.getClass.getSimpleName).toSet
      assert(Set("ArchiveIndexing", "IndexProgress", "ArchiveIndexed",
        "IndexesUpdated").subsetOf(kinds), s"saw $kinds")

      // unindex stops the watch (index.js:67) and drops the state
      db.unindex(origin)
      assert(!db.isWatching(origin))
      assert(db.listEntries("tags").isEmpty)
    } finally db.close()
  }

  test("A4: two watched origins maintain independent state; late-defined view catches up") {
    val dirA = Files.createTempDirectory("graft-watchA")
    val dirB = Files.createTempDirectory("graft-watchB")
    val stateRoot = Files.createTempDirectory("graft-watchAB-state")
    val schema = StructType(Seq(
      StructField("first", StringType), StructField("second", LongType)))
    val db = new Graft(spark, stateRoot.toString)
    db.define("t", ViewDef(Seq("/*.json"), MapDF { files =>
      val parsed = files.withColumn("j", from_json(col("value"), schema))
      GraftFunctions.emitEntry(parsed, Seq(col("j.first")), col("j.second"))
    }, None))
    db.watch(new DirArchive("dat://wa", dirA.toString), "200 milliseconds")
    db.watch(new DirArchive("dat://wb", dirB.toString), "200 milliseconds")
    try {
      writeFile(dirA, "a.json", Seq("""{"first":"k","second":1}"""))
      writeFile(dirB, "b.json", Seq("""{"first":"k","second":2}"""))
      eventually()(db.getValue("t", "k") == Some(Vector(1.0, 2.0)))

      // edit under watch in A retracts ONLY A's entry
      editFile(dirA, "a.json", Seq("""{"first":"k","second":10}"""))
      eventually()(db.getValue("t", "k") == Some(Vector(10.0, 2.0)))

      // a view defined while watches run gets a FULL build on the next
      // tick that sees a change (per-view version -1 → full), and both
      // origins contribute
      db.define("t2", ViewDef(Seq("/*.json"), MapDF { files =>
        val parsed = files.withColumn("j", from_json(col("value"), schema))
        GraftFunctions.emitEntry(parsed, Seq(col("j.first")), lit(1))
      }, Some(Reduce.Count)))
      writeFile(dirA, "c.json", Seq("""{"first":"k","second":3}"""))
      writeFile(dirB, "d.json", Seq("""{"first":"k","second":4}"""))
      eventually()(db.getValue("t2", "k") == Some(4.0))
      eventually()(db.getValue("t", "k") == Some(Vector(10.0, 3.0, 2.0, 4.0)))
    } finally db.close()
  }

  test("A4: ten watched origins — interleaved edits/deletes, per-origin retraction isolation, idempotent replay") {
    // the reference's multi-archive daily shape (indexer.js:67): N
    // archives watched by ONE engine, each indexing independently. The
    // claims under test: (1) a change in origin i retracts/updates ONLY
    // origin i's entries (partition isolation by ob=); (2) replaying an
    // UNCHANGED origin through index() is a no-op (fversion diff), never
    // a duplication; (3) all ten watch loops stay live through
    // interleaved edits, deletes, and appends.
    val N = 10
    val stateRoot = Files.createTempDirectory("graft-watch10-state")
    val schema = StructType(Seq(
      StructField("first", StringType), StructField("second", LongType)))
    val db = new Graft(spark, stateRoot.toString)
    db.define("m", ViewDef(Seq("/*.json"), MapDF { files =>
      val parsed = files.withColumn("j", from_json(col("value"), schema))
      GraftFunctions.emitEntry(parsed, Seq(col("j.first")), col("j.second"))
    }, None))
    val dirs = (0 until N).map(i => Files.createTempDirectory(s"graft-watch10-$i"))
    dirs.zipWithIndex.foreach { case (d, i) =>
      writeFile(d, "a.json", Seq(s"""{"first":"o$i","second":${i * 100 + 1}}"""))
      writeFile(d, "b.json", Seq(s"""{"first":"o$i","second":${i * 100 + 2}}"""))
    }
    // the reference's one-call form: synchronous initial build, then the
    // watch loop owns the origin (index.js:127-141) — ten live watches
    (0 until N).foreach(i =>
      db.index(new DirArchive(s"dat://multi-$i", dirs(i).toString), watch = true))
    try {
      (0 until N).foreach { i =>
        assert(db.getValue("m", s"o$i") ==
          Some(Vector((i * 100 + 1).toDouble, (i * 100 + 2).toDouble)),
          s"initial synchronous build of origin $i")
      }
      // interleave one mutation per origin while all ten watches run:
      // edit a (i%3==0), delete b (i%3==1), append c (i%3==2)
      (0 until N).foreach { i =>
        if (i % 3 == 0)
          editFile(dirs(i), "a.json", Seq(s"""{"first":"o$i","second":${i * 100 + 11}}"""))
        else if (i % 3 == 1) Files.delete(dirs(i).resolve("b.json"))
        else writeFile(dirs(i), "c.json", Seq(s"""{"first":"o$i","second":${i * 100 + 3}}"""))
      }
      def expected(i: Int): Vector[Double] =
        if (i % 3 == 0) Vector(i * 100 + 11.0, i * 100 + 2.0) // a edited, b kept
        else if (i % 3 == 1) Vector(i * 100 + 1.0)            // b retracted
        else Vector(i * 100 + 1.0, i * 100 + 2.0, i * 100 + 3.0)
      // ten watchers converge concurrently; generous deadline — the
      // merge passes serialize through the engine and share the host
      (0 until N).foreach { i =>
        eventually(180000)(db.getValue("m", s"o$i") == Some(expected(i)))
      }
      // ISOLATION is the converged state itself: every origin's value
      // vector is exactly its own files' — no cross-origin retraction
      // took a neighbor's entries, no cross-origin replay duplicated any
      // (each origin's expected vector is checked above post-mutation).
      // Idempotent replay: a forced synchronous re-index of every
      // UNCHANGED origin must change nothing (fversion diff short-circuit)
      (0 until N).foreach(i => db.index(new DirArchive(s"dat://multi-$i", dirs(i).toString)))
      (0 until N).foreach { i =>
        assert(db.getValue("m", s"o$i") == Some(expected(i)),
          s"replaying unchanged origin $i must be a no-op")
      }
      assert((0 until N).forall(i => db.isWatching(s"dat://multi-$i")),
        "all ten watch loops must still be live")
    } finally db.close()
  }

  test("A4: watch survives a missing archive dir and reports found/missing") {
    val parent = Files.createTempDirectory("graft-watch3-parent")
    val watched = parent.resolve("arch")
    val stateRoot = Files.createTempDirectory("graft-watch3-state")
    val db = new Graft(spark, stateRoot.toString)
    db.define("t", ViewDef(Seq("/*.txt"), MapDF { files =>
      GraftFunctions.emitEntry(files, Seq(col("pathname")), col("value"))
    }, None))
    val events = new java.util.concurrent.ConcurrentLinkedQueue[GraftEvent]()
    db.addListener(events.add(_))
    db.watch(new DirArchive("dat://w3", watched.toString), "200 milliseconds")
    try {
      eventually()(events.toArray.exists(_.isInstanceOf[GraftEvent.ArchiveMissing]))
      writeFile(watched, "a.txt", Seq("hello"))
      eventually()(db.getValue("t", "/a.txt") == Some(Vector("hello")))
      assert(events.toArray.exists(_.isInstanceOf[GraftEvent.ArchiveFound]))
    } finally db.close()
  }
}

object StreamingSpec {
  case class Sess(start: Long, last: Long, n: Long)
  case class Closed(user: String, start: Timestamp, end: Timestamp, n: Long)

  private val GapMs = 30 * 60 * 1000L

  /** Gap-based session fold: merge events into the open session, close it
    * when a gap exceeds 30 minutes or the event-time timeout fires.
    */
  def sessionize(user: String, events: Iterator[(String, Timestamp)],
      state: GroupState[Sess]): Iterator[Closed] = {
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      Iterator(Closed(user, new Timestamp(s.start), new Timestamp(s.last), s.n))
    } else {
      val ts = events.map(_._2.getTime).toSeq.sorted
      var out = List.empty[Closed]
      var cur = state.getOption
      ts.foreach { t =>
        cur match {
          case Some(s) if t - s.last > GapMs =>
            out ::= Closed(user, new Timestamp(s.start), new Timestamp(s.last), s.n)
            cur = Some(Sess(t, t, 1))
          case Some(s) =>
            cur = Some(Sess(s.start, t, s.n + 1))
          case None =>
            cur = Some(Sess(t, t, 1))
        }
      }
      cur.foreach { s =>
        state.update(s)
        state.setTimeoutTimestamp(s.last + GapMs)
      }
      out.reverseIterator
    }
  }
}
