package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.streaming.EventStreams

/** Batch-equivalence gate for the streaming operators: the EXACT
  * transformations EventStreams runs under Structured Streaming, executed
  * in batch over the `events` table and oracle-checked in DuckDB
  * (tumbling/sliding via time-bucketing, session windows via
  * gaps-and-islands SQL). The streaming-only behaviors (watermark state
  * eviction, incremental emission) are covered by StreamingSpec with a
  * MemoryStream. */
object StreamingQueries extends QueryPack {

  /** Per-invocation id for the micro-batch gates: stream-input dir and
    * memory-sink names must be fresh each run (the bench executes every
    * query twice in one JVM). */
  private val mbRun = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Per-JVM disambiguator baked into every on-disk stream dir name
    * (slices, live staging, file sinks): `mbRun` is only unique WITHIN a
    * JVM, and the shared `java.io.tmpdir` is not exclusive — a concurrent
    * graft process (a Bench sweep or slope run alongside `sbt test`)
    * would otherwise collide on `graft_stream_1` and trip the specs'
    * tmp-hygiene snapshots. The specs filter on this prefix too, so they
    * only ever assert over dirs THIS JVM created. */
  private[graft] val jvmTag: String =
    java.lang.ProcessHandle.current().pid().toString

  /** Memory-sink temp views registered by past runMicroBatch calls. Each
    * run registers a fresh `qn_runId` view; without eviction a 10+ run
    * sweep accretes every run's full result set in driver memory even
    * though only the latest is ever read. Gates run sequentially and the
    * returned DataFrame is consumed before the next gate starts, so
    * dropping all previous sinks at the start of a run is safe. */
  private val liveSinks = scala.collection.mutable.Set.empty[String]

  /** Delete a directory tree; closes the Files.walk stream (a leaked walk
    * holds a directory handle until GC). */
  private def deleteTree(dir: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(java.nio.file.Files.walk(dir)) { walk =>
      walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
    }
  }

  /** Directory listing with the stream CLOSED before returning (same
    * handle-leak rule as [[deleteTree]]'s walk). */
  private def listDir(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(java.nio.file.Files.list(dir)) { ls =>
      ls.iterator().asScala.toSeq
    }
  }

  /** Materialize the events table as `nSlices` time-ordered parquet FILES
    * in a fresh temp dir — the file-source stream input for the REAL
    * micro-batch gates (q186/q187). Slices partition the [min, max] event
    * time range, so with `maxFilesPerTrigger=1` every micro-batch advances
    * event time monotonically (no late data) and the watermark ratchets
    * once per batch. File names and modification times both increase with
    * the slice index, so FileStreamSource's ordering (mtime, with path as
    * the tiebreak) matches event-time order however it resolves.
    *
    * Two SENTINEL files (user_id = −1, +10h and +20h past the corpus max)
    * close the stream: in append mode a watermarked aggregation emits a
    * final session only once the watermark passes its end, and the
    * watermark for batch N derives from batches < N — so sentinel 1
    * pushes event time past every real session and sentinel 2 provides
    * the extra batch in which that advanced watermark actually flushes
    * state. Consumers filter `user_id >= 0`. */
  private val EventsSchema =
    "event_id LONG, user_id LONG, event_type STRING, us LONG"

  private def sliceEventsForStream(s: SparkSession, d: String,
                                   nSlices: Int, runId: Int): String = {
    val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("us"))
    import s.implicits._
    writeRangeSliced(s, s"graft_stream_${jvmTag}_$runId", ev, "us", nSlices,
      extras = maxUs => Seq(36000000000L, 72000000000L).map { off =>
        Seq((-1L, -1L, "sentinel", maxUs + off))
          .toDF("event_id", "user_id", "event_type", "us")
      })
  }

  /** Single-pass range slicer: materializes `df` as `nSlices` key-range
    * parquet FILES (plus one file per `extras` frame, which receives the
    * observed key max — the sentinel hook) under a fresh temp dir named
    * `dirName`, in ONE write job. Each row's slice index is computed with
    * the same integer boundary arithmetic as the per-slice filters this
    * replaces (slice k covers [lo + span·k/n, lo + span·(k+1)/n), integer
    * division; the closed-form inverse of "largest k whose start ≤ u" is
    * ceil((u+1)·n/span) − 1), rows are hash-shuffled by that index so each
    * slice's rows land in exactly one task, and a partitionBy write emits
    * one file per slice. The old path paid one MIN/MAX agg plus nSlices+2
    * full scans of the input, each feeding a single-task coalesce(1)
    * write — ~12 jobs and 12 input passes per gate where one scan suffices
    * (guide §1.2/§2.4: remove redundant passes; the decision — which slice
    * — is a few bytes per row, so move the rows once). File names and
    * modification times both increase with the slice index exactly as
    * before, so FileStreamSource's ordering (mtime, path tiebreak) and each
    * trigger's slice MEMBERSHIP are identical to the old per-slice writer.
    * WITHIN-file row order is NOT guaranteed (it is shuffle-fetch order,
    * nondeterministic run to run) — do not build a gate on it. Today's
    * consumers are order-insensitive: stateful operators sort per group
    * before applying state, and UpsertSink's max_by rides the unique
    * (us, event_id) ordinal.
    *
    * AQE note: coalescing can only MERGE whole shuffle partitions (all of
    * a slice's rows still sit in one task — the file count per slice stays
    * one); skew SPLITTING applies to joins only, never this shuffle. */
  private def writeRangeSliced(s: SparkSession, dirName: String, df: DataFrame,
                               keyCol: String, nSlices: Int,
                               extras: Long => Seq[DataFrame] = _ => Nil): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val r = df.agg(min(col(keyCol)), max(col(keyCol))).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val span = hi - lo + 1
    val sliceExpr = expr(
      s"cast((($keyCol - ${lo}L + 1L) * ${nSlices}L + ${span - 1}L) div ${span}L - 1L as int)")
    val ex = extras(hi)
    val all = ex.zipWithIndex.foldLeft(df.withColumn("__slice", sliceExpr)) {
      case (acc, (e, i)) => acc.unionByName(e.withColumn("__slice", lit(nSlices + i)))
    }
    val nTotal = nSlices + ex.length
    val dir = Paths.get(System.getProperty("java.io.tmpdir"), dirName)
    if (Files.exists(dir)) deleteTree(dir)
    Files.createDirectories(dir)
    val stage = dir.resolve("_stage")
    all.repartition(nTotal, col("__slice"))
      .write.partitionBy("__slice").mode("overwrite").parquet(stage.toString)
    (0 until nTotal).foreach { k =>
      val sub = stage.resolve(s"__slice=$k")
      val dst = dir.resolve(f"slice_$k%03d.parquet")
      val part =
        if (Files.isDirectory(sub))
          listDir(sub).map(_.toString).find(_.endsWith(".parquet"))
        else None
      part match {
        case Some(p) =>
          Files.move(Paths.get(p), dst, StandardCopyOption.REPLACE_EXISTING)
        case None =>
          // Empty range slice (degenerate tiny inputs only): materialize
          // an empty file so the trigger count is unchanged.
          val tmp = dir.resolve(s"_tmp_$k")
          df.limit(0).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val p = listDir(tmp).map(_.toString).find(_.endsWith(".parquet")).get
          Files.move(Paths.get(p), dst, StandardCopyOption.REPLACE_EXISTING)
          deleteTree(tmp)
      }
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000L + k * 1000L))
    }
    deleteTree(stage)
    dir.toString
  }

  /** Run `build` over the sliced file-source stream as a REAL Structured
    * Streaming query — one micro-batch per slice file — into a memory
    * sink, and return the sink contents as a batch DataFrame. This is the
    * actual `writeStream` + `processAllAvailable` execution path (state
    * store, watermark ratchet, incremental emission), not the batch-mode
    * kernel twin. */
  private def runMicroBatch(s: SparkSession, d: String, qn: String)(
      build: DataFrame => DataFrame): DataFrame = {
    val runId = mbRun.incrementAndGet()
    // Evict previous runs' memory sinks — only the latest is ever read.
    liveSinks.foreach(s.catalog.dropTempView)
    liveSinks.clear()
    val dir = sliceEventsForStream(s, d, nSlices = 8, runId)
    val src = s.readStream
      .schema(EventsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val sink = s"${qn}_$runId"
    // 8 state partitions for the 10-trigger run: the per-batch cost of a
    // stateful micro-batch is dominated by state-store commits (one per
    // partition per trigger), and the session default (32) quadruples
    // that for no parallelism gain at gate volume. The partition count is
    // latched per streaming query at start, so the session conf is
    // restored immediately after; queries in a sweep run sequentially.
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val q =
      try build(src).writeStream.format("memory").queryName(sink)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .start()
      finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    // The memory sink holds the results; the slice files are dead weight
    // once the stream stops — clean them in the SAME finally that stops
    // the query, so a throwing processAllAvailable() can't leak the
    // corpus-sized temp dir.
    try q.processAllAvailable() finally {
      try q.stop()
      finally deleteTree(java.nio.file.Paths.get(dir))
    }
    liveSinks += sink
    s.table(sink)
  }

  /** Parquet sink roots from past file-sink runs, keyed by GATE NAME.
    * Eviction is per key: a run deletes only the SAME gate's previous
    * root (the bench executes every query twice, so same-gate reruns are
    * the accretion path), never another gate's — a previously returned
    * q191 DataFrame stays re-readable while later gates run. Whatever
    * remains at JVM exit is removed by a shutdown hook (the same
    * root-cleanup pattern as MaterializeOnce), so the LAST run's dir
    * doesn't outlive the suite. ConcurrentHashMap: gates run sequentially
    * today, but the registry must not corrupt if that ever changes. */
  private val liveSinkDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  private val sinkHookArmed = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def claimSinkRoot(qn: String, runId: Int): java.nio.file.Path = {
    import java.nio.file.{Files, Paths}
    if (sinkHookArmed.compareAndSet(false, true))
      sys.addShutdownHook {
        liveSinkDirs.values.forEach(p => if (Files.exists(p)) deleteTree(p))
      }
    val root = Paths.get(System.getProperty("java.io.tmpdir"), s"graft_mbsink_${jvmTag}_$runId")
    if (Files.exists(root)) deleteTree(root)
    Option(liveSinkDirs.put(qn, root))
      .foreach(prev => if (prev != root && Files.exists(prev)) deleteTree(prev))
    root
  }

  /** The `runMicroBatch` execution path with a FILE (parquet) sink + real
    * checkpoint dir instead of `format("memory")` — the only sink shape
    * that survives 100× volume (a memory sink collects every emitted row
    * into the driver; the parquet sink streams each micro-batch's
    * emissions to storage and commits them via the sink's transaction
    * log). The result is read BACK from the sink files, so the gate
    * hashes what the sink durably wrote, not what the query emitted.
    * `sliceDir`/`schema` describe the pre-sliced file-source input (see
    * [[writeRangeSliced]]); the slice dir is deleted with the stream. */
  private def runMicroBatchToFiles(s: SparkSession, qn: String,
                                   sliceDir: String, schema: String)(
      build: DataFrame => DataFrame): DataFrame =
    runMicroBatchToFilesRoot(s, qn, sliceDir, schema)(build)._1

  /** As [[runMicroBatchToFiles]], also returning the claimed sink root so
    * a composing gate (q197's compaction) can place derived output under
    * the same per-gate-evicted, shutdown-hooked lifecycle. */
  private def runMicroBatchToFilesRoot(s: SparkSession, qn: String,
                                       sliceDir: String, schema: String)(
      build: DataFrame => DataFrame): (DataFrame, java.nio.file.Path) = {
    val runId = mbRun.incrementAndGet()
    val root = claimSinkRoot(qn, runId)
    val out = root.resolve("data").toString
    val ckpt = root.resolve("ckpt").toString
    try runStreamOnce(s, sliceDir, schema, out, ckpt)(build)
    finally deleteTree(java.nio.file.Paths.get(sliceDir))
    (s.read.parquet(out), root)
  }

  /** One `writeStream` run over the slice-dir file source into the parquet
    * sink at `out` with checkpoint `ckpt`: start, drain every available
    * slice (one micro-batch each), stop. Restartable: a second call with
    * the same out/ckpt resumes from the checkpointed offsets. */
  private def runStreamOnce(s: SparkSession, sliceDir: String, schema: String,
                            out: String, ckpt: String)(
      build: DataFrame => DataFrame): Unit = {
    val src = s.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(sliceDir)
    // Same 8-state-partition rationale as runMicroBatch.
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val q =
      try build(src).writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .start()
      finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    try q.processAllAvailable() finally q.stop()
  }

  /** CHECKPOINT-RECOVERY harness: q191's stream run in TWO query
    * incarnations against one checkpoint + sink. The first sees only the
    * first `firstFiles` slices; after it drains and stops, the newest
    * entry of the checkpoint's commit log is DELETED — the exact on-disk
    * state of a crash between the offset write and the commit write — the
    * remaining slices are made visible, and a NEW query starts from the
    * same checkpoint. The restart must REPLAY the uncommitted batch; the
    * file sink's own transaction log makes the replay idempotent (the
    * batch is already recorded there, so its rewrite is skipped), which is
    * the exactly-once contract this gate hashes: sink contents after
    * crash + replay + continuation must equal the uninterrupted oracle. */
  private def runMicroBatchWithRestart(s: SparkSession, qn: String,
                                       sliceDir: String, schema: String,
                                       firstFiles: Int)(
      build: DataFrame => DataFrame): DataFrame = {
    import java.nio.file.{Files, Paths}
    val runId = mbRun.incrementAndGet()
    val root = claimSinkRoot(qn, runId)
    val out = root.resolve("data").toString
    val ckpt = root.resolve("ckpt")
    try {
      // Stage the slices: only the first `firstFiles` are visible to the
      // first query incarnation (a live stream has not yet received the
      // rest); the remainder move in before the restart.
      val all = listDir(Paths.get(sliceDir)).sortBy(_.getFileName.toString)
      val live = Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_stream_${jvmTag}_live_$runId")
      if (Files.exists(live)) deleteTree(live)
      Files.createDirectories(live)
      def reveal(ps: Seq[java.nio.file.Path]): Unit = ps.foreach { p =>
        Files.move(p, live.resolve(p.getFileName))
      }
      reveal(all.take(firstFiles))
      try {
        runStreamOnce(s, live.toString, schema, out, ckpt.toString)(build)
        // Crash simulation: drop the newest commit marker (and its
        // checksum twin if the local FS wrote one), leaving its offsets
        // entry in place — the restart sees "offsets written, commit
        // missing" and must re-execute that batch from checkpointed state.
        val commits = listDir(ckpt.resolve("commits"))
          .filter(_.getFileName.toString.matches("\\d+"))
        val newest = commits.maxBy(_.getFileName.toString.toLong)
        Files.delete(newest)
        Files.deleteIfExists(newest.resolveSibling(s".${newest.getFileName}.crc"))
        reveal(all.drop(firstFiles))
        runStreamOnce(s, live.toString, schema, out, ckpt.toString)(build)
      } finally deleteTree(live)
    } finally deleteTree(java.nio.file.Paths.get(sliceDir))
    s.read.parquet(out)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q40_tumbling_window" -> ((s, d) => {
      EventStreams.tumblingHourly(Tables.events(s, d))
        .orderBy(col("window_start"), col("event_type"))
    }),

    "q41_session_window" -> ((s, d) => {
      EventStreams.userSessions(Tables.events(s, d))
        .orderBy(col("user_id"), col("session_start"))
    }),

    "q42_sliding_window" -> ((s, d) => {
      EventStreams.slidingTwoHour(Tables.events(s, d))
        .orderBy(col("window_start"))
    }),

    // The custom-state operator (flatMapGroupsWithState) executed in BATCH
    // mode: Spark runs the same state function over each complete group
    // with empty initial state, so the emitted row per user IS the final
    // running total — the batch gate twin for the one streaming surface
    // previously verified by spec alone.
    "q46_running_totals" -> ((s, d) => {
      import s.implicits._
      val events = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
                col("event_type"), col("value"))
        .as[EventStreams.Event]
      EventStreams.runningUserTotals(events)
        .toDF()
        .orderBy(col("user_id"))
    }),

    // StreamingDedup.exactDedup executed in BATCH mode (the q46 pattern):
    // Spark runs the same flatMapGroupsWithState kernel over each complete
    // fingerprint group with empty initial state, and the kernel's
    // doc_id-ordered scan makes first_id = min(doc_id) of the group — so
    // the streaming exact-dedup's verdicts are oracle-gated against plain
    // fingerprint SQL, not specs alone (the last operator family that was).
    "q53_stream_exact_dedup" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .as[graft.streaming.StreamingDedup.DocText]
      graft.streaming.StreamingDedup
        .exactDedup(graft.streaming.StreamingDedup.fingerprints(docs))
        .toDF()
        .orderBy(col("doc_id"))
    }),

    // The near-dup streaming kernel in BATCH mode (q53's sibling): each
    // complete (band, key) bucket is scanned in doc_id order and every doc
    // is judged against all earlier bucket members — so the verdict per
    // (doc, band) is the LOWEST earlier doc_id whose signature agrees on
    // >= minAgree of the 8 slots, which is plain windowless SQL over the
    // q34 minhash CTEs. maxBucketSigs is unbounded here: batch mode sees
    // each bucket whole, so capping would make the oracle model eviction;
    // the cap (and its observability) stays spec-covered in
    // StreamingDedupSpec.
    "q54_stream_near_dedup" -> ((s, d) => {
      // DocSig is bootstrapped from the CORPUS'S standing shingle table
      // (the same MaterializeOnce relation the q34/q35/q51 family reads),
      // not recomputed from text: banding is deterministic in hs, so the
      // kernel's input is identical, and the md5 shingle pipeline — the
      // dominant per-doc cost — runs once per corpus across ALL consumers.
      graft.streaming.StreamingDedup
        .nearDupVerdicts(graft.streaming.StreamingDedup.signaturesFromShingles(
            TextPipelineQueries.materializedShingles(s, d)),
          minAgree = 4, maxBucketSigs = Int.MaxValue)
        .toDF()
        .orderBy(col("doc_id"), col("band"))
    }),

    // The eviction path itself, oracle-gated (q54 leaves the cap
    // spec-covered because its unbounded run never saturates): with
    // maxBucketSigs = 2 every corpus tier has saturating buckets (3-4
    // member buckets exist even at sf0.001), so this gate exercises BOTH
    // verdict kinds. The kernel is deterministic in doc_id order, so
    // "held" is exactly the first-2-by-doc_id members of each bucket and
    // eviction rows are exactly the rank>2 members — a row_number window
    // in the oracle. The tie between a doc's dup row and its eviction row
    // in the same band is broken by dup_of (EvictedMark = -1 sorts first).
    "q55_stream_near_dedup_evict" -> ((s, d) => {
      graft.streaming.StreamingDedup
        .nearDupVerdicts(graft.streaming.StreamingDedup.signaturesFromShingles(
            TextPipelineQueries.materializedShingles(s, d)),
          minAgree = 4, maxBucketSigs = 2)
        .toDF()
        .orderBy(col("doc_id"), col("band"), col("dup_of"))
    }),

    // Stream-stream interval join in BATCH mode (the q46/q53 pattern): the
    // same purchaseClickPairs code runs under Structured Streaming with
    // watermarks bounding join state; here it's a range-predicate
    // equi-join whose pairs are oracle-checked exactly.
    "q57_interval_join" -> ((s, d) => {
      EventStreams.purchaseClickPairs(Tables.events(s, d))
        .orderBy(col("purchase_id"), col("click_id"))
    }),

    // AS-OF join (operators/AsOfJoin): for each purchase, the user's
    // latest click at-or-before it — the union+running-window shape, one
    // shuffle, no join node. Ties (same user, same timestamp) resolve to
    // the greatest click event_id; purchases with no prior click keep
    // null match columns (LEFT semantics).
    "q56_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"), col("user_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("ts"), col("user_id"))
      graft.operators.AsOfJoin.asOf(purchases, clicks, "user_id", "ts", "event_id")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("purchase_ts"),
          col("asof.event_id").as("click_id"),
          date_format(col("asof.ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("click_ts"),
          (unix_micros(col("ts")) - unix_micros(col("asof.ts"))).as("gap_us"))
        .orderBy(col("purchase_id"))
    }),

    // The custom-state sessionization kernel (flatMapGroupsWithState) in
    // BATCH mode (the q46/q53 pattern): each user's complete history in
    // one invocation with empty state, so the emitted rows are the exact
    // final sessions — oracle-gated against q130's window formulation
    // VERBATIM, so the streaming kernel and the batch windows can never
    // drift (the q51/q52 oracle-identity discipline).
    "q143_stream_sessionization" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .as[EventStreams.SessEvent]
      EventStreams.sessionize(ev).toDF()
        .orderBy(col("user_id"), col("session_idx"))
    }),

    // REAL micro-batch execution of the watermarked session-window
    // aggregation (q41's streaming half, previously spec-only): the
    // events table becomes an 8-file file-source stream processed one
    // file per trigger, the 2h watermark ratchets each batch, and — this
    // being append mode — every session row in the sink was emitted
    // BECAUSE the watermark passed its end (the two sentinel batches
    // flush the tail; see sliceEventsForStream). The sink is gated
    // against q41's gaps-and-islands oracle VERBATIM, so streaming
    // execution and batch semantics can never drift. Append-mode session
    // aggregates emit exactly once, so the sink needs no compaction.
    "q186_stream_sessions_microbatch" -> ((s, d) => {
      runMicroBatch(s, d, "graft_mb_sessions") { src =>
        EventStreams.userSessions(
          src.withColumn("ts", timestamp_micros(col("us"))),
          withWatermark = true)
      }
        .filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("session_start"))
    }),

    // REAL micro-batch execution of the custom-state sessionization
    // kernel (q143's streaming half): the same flatMapGroupsWithState
    // code runs across 10 triggers with per-user state carried between
    // micro-batches — an open session is snapshotted each batch it grows
    // and closed by a later one. The sink is compacted per (user,
    // session_idx) to the max-n_events emission (snapshots grow strictly,
    // so that row IS the session's final shape) and gated against q130's
    // batch-window oracle VERBATIM — the q51/q52 oracle-identity
    // discipline applied to actual streaming execution.
    // q186's stream through a PARQUET sink + checkpoint dir (no
    // format("memory") anywhere in the write path): the same watermarked
    // session-window build, one micro-batch per slice, each batch's
    // append-mode emissions committed to the file sink's transaction log,
    // then read back from the files and gated against the SAME
    // gaps-and-islands oracle. This proves the scale-shaped sink
    // end-to-end: the memory sink is driver-bounded, the file sink is
    // exactly what a 100× corpus would stream into.
    "q191_stream_sessions_filesink" -> ((s, d) => {
      runMicroBatchToFiles(s, "q191_stream_sessions_filesink",
        sliceEventsForStream(s, d, nSlices = 8, mbRun.incrementAndGet()),
        EventsSchema) { src =>
        EventStreams.userSessions(
          src.withColumn("ts", timestamp_micros(col("us"))),
          withWatermark = true)
      }
        .filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("session_start"))
    }),

    // CHECKPOINT RECOVERY (q191's missing half — the file sink's actual
    // scale claim is exactly-once ACROSS RESTARTS, which one uninterrupted
    // run never exercises): the same watermarked session-window stream is
    // run as TWO query incarnations against one checkpoint + sink. The
    // first drains 4 of the 10 slices and stops; the newest commit-log
    // entry is then deleted — the exact on-disk state of a crash between
    // the offset write and the commit write — and a NEW query resumes from
    // the checkpoint, REPLAYS the uncommitted batch (the file sink's
    // transaction log makes the rewrite a no-op), and processes the rest.
    // The sink is read back and gated against the SAME gaps-and-islands
    // oracle as the uninterrupted run: any duplicate from the replayed
    // trigger, any dropped state, any watermark regression hash-fails.
    "q194_stream_sessions_restart" -> ((s, d) => {
      runMicroBatchWithRestart(s, "q194_stream_sessions_restart",
        sliceEventsForStream(s, d, nSlices = 8, mbRun.incrementAndGet()),
        EventsSchema, firstFiles = 4) { src =>
        EventStreams.userSessions(
          src.withColumn("ts", timestamp_micros(col("us"))),
          withWatermark = true)
      }
        .filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("session_start"))
    }),

    // REAL micro-batch + parquet-sink run of the streaming EXACT-dedup
    // kernel (q53's streaming half — the last operator family verified
    // only as a batch twin): the documents table becomes an 8-file
    // doc_id-range file-source stream, each slice one trigger, the
    // per-fingerprint first-arrival state carried between micro-batches
    // by the state store, every verdict committed to the file sink's
    // transaction log and read back from the sink files. Slices are
    // doc_id-ordered and the kernel scans each batch in doc_id order, so
    // first_id = min(doc_id) per fingerprint exactly as in batch mode —
    // the oracle is q53's SQL VERBATIM: streaming execution and the batch
    // kernel can never drift (the q186/q191 discipline applied to dedup).
    "q192_stream_exact_dedup_microbatch" -> ((s, d) => {
      import s.implicits._
      runMicroBatchToFiles(s, "q192_stream_exact_dedup_microbatch",
        writeRangeSliced(s, s"graft_stream_${jvmTag}_${mbRun.incrementAndGet()}",
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          "doc_id", 8),
        "doc_id LONG, text STRING") { src =>
        graft.streaming.StreamingDedup.exactDedup(
          graft.streaming.StreamingDedup.fingerprints(
            src.as[graft.streaming.StreamingDedup.DocText])).toDF()
      }
        .orderBy(col("doc_id"))
    }),

    // q192's near-dup sibling: the streaming MinHash-band kernel (q54)
    // through the same real micro-batch + parquet-sink harness. The
    // stream input is the corpus's STANDING shingle table (the
    // MaterializeOnce relation every dedup consumer reads) sliced by
    // doc_id range, so per-bucket signature state accumulates across
    // micro-batches exactly as arrivals would feed it in production; the
    // earliest-member verdicts equal the batch kernel's because arrival
    // order is doc_id order both between slices (range slicing) and
    // within each batch (the kernel's sort). Oracle = q54's SQL VERBATIM.
    "q193_stream_near_dedup_microbatch" -> ((s, d) => {
      runMicroBatchToFiles(s, "q193_stream_near_dedup_microbatch",
        writeRangeSliced(s, s"graft_stream_${jvmTag}_${mbRun.incrementAndGet()}",
          TextPipelineQueries.materializedShingles(s, d),
          "doc_id", 8),
        "doc_id LONG, hs ARRAY<LONG>") { src =>
        graft.streaming.StreamingDedup.nearDupVerdicts(
          graft.streaming.StreamingDedup.signaturesFromShingles(src),
          minAgree = 4, maxBucketSigs = Int.MaxValue).toDF()
      }
        .orderBy(col("doc_id"), col("band"))
    }),

    // SMALL-FILE COMPACTION for streaming sinks (the ops gap a micro-batch
    // parquet sink creates at scale: one file per trigger per partition —
    // at 100× volume, the classic small-file swamp). The q191 stream runs
    // into its own file sink, then SinkCompaction.compact rewrites the
    // committed files into size-targeted ones (file count from committed
    // bytes / target, hash-partitioned rewrite) in a sibling dir, and the
    // gate hashes the COMPACTED relation against the same session-window
    // oracle — compaction must be byte-content-invariant. The 64 KiB
    // target forces a real many→few rewrite at gate scale.
    "q197_stream_sink_compaction" -> ((s, d) => {
      val (sink, root) = runMicroBatchToFilesRoot(s, "q197_stream_sink_compaction",
        sliceEventsForStream(s, d, nSlices = 8, mbRun.incrementAndGet()),
        EventsSchema) { src =>
        EventStreams.userSessions(
          src.withColumn("ts", timestamp_micros(col("us"))),
          withWatermark = true)
      }
      graft.streaming.SinkCompaction
        .compact(s, sink, targetBytes = 64 * 1024,
          outDir = root.resolve("compact").toString)
        .filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("session_start"))
    }),

    // CHECKPOINT RECOVERY for the streaming DEDUP kernel (q194's restart
    // harness applied to q192's stream — sessionization proved the
    // crash/replay machinery, but the operator family a training-data
    // pipeline runs 24/7 is dedup, and its state shape is different: a
    // per-fingerprint first-arrival map, not a window accumulator). The
    // exact-dedup stream is stopped after 4 of its 8 doc_id-range slices,
    // the newest commit-log entry is deleted to force a replay, and a NEW
    // query resumes from the checkpoint: the replayed trigger must emit
    // verdicts from the RESTORED state version (a lost or double-applied
    // fingerprint map flips first_id/is_dup on every later duplicate), and
    // the file sink's transaction log must absorb the replayed write.
    // Oracle = q53's SQL VERBATIM: crash + replay + continuation must be
    // indistinguishable from the uninterrupted batch twin.
    "q198_stream_exact_dedup_restart" -> ((s, d) => {
      import s.implicits._
      runMicroBatchWithRestart(s, "q198_stream_exact_dedup_restart",
        writeRangeSliced(s, s"graft_stream_${jvmTag}_${mbRun.incrementAndGet()}",
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          "doc_id", 8),
        "doc_id LONG, text STRING", firstFiles = 4) { src =>
        graft.streaming.StreamingDedup.exactDedup(
          graft.streaming.StreamingDedup.fingerprints(
            src.as[graft.streaming.StreamingDedup.DocText])).toDF()
      }
        .orderBy(col("doc_id"))
    }),

    // STREAM-STATIC enrichment join through the real micro-batch +
    // parquet-sink harness: each micro-batch of the events stream is
    // joined to the STATIC customer dimension (explicitly broadcast — the
    // canonical scale shape: the dim ships to every executor once, the
    // stream never shuffles), and the enriched rows are committed to the
    // file sink. Stateless, so append mode needs no watermark and every
    // input row surfaces exactly once; the oracle is the plain batch join.
    // This is the everything-pipeline operator (fact stream × dim table)
    // that had zero streaming-execution coverage before this gate.
    "q199_stream_static_join" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("us"), col("value"))
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
      runMicroBatchToFiles(s, "q199_stream_static_join",
        writeRangeSliced(s, s"graft_stream_${jvmTag}_${mbRun.incrementAndGet()}",
          ev, "us", 8),
        "event_id LONG, user_id LONG, event_type STRING, us LONG, value DOUBLE") { src =>
        src.join(broadcast(cust), col("user_id") === col("c_custkey"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), col("c_mktsegment"), col("c_nationkey"))
      }
        .orderBy(col("event_id"))
    }),

    // STREAM-STREAM interval join under REAL watermarked execution (q57 is
    // the batch twin; the join-state machinery — per-side buffers keyed by
    // user_id, evicted as the watermark passes the time-range bound — only
    // exists under writeStream and was never exercised). One time-sliced
    // file source feeds both branches (purchases and clicks filtered from
    // the same stream — still a genuine stream-stream join: two watermarked
    // inputs to a streaming symmetric hash join); matches emit in the
    // trigger where both sides are present. Safety margin: slices advance
    // event time monotonically, the 2h watermark delay exceeds the 1h join
    // window, so no click is evicted before its last possible purchase
    // arrives — any premature eviction hash-fails against q57's oracle.
    "q200_stream_stream_join" -> ((s, d) => {
      runMicroBatchToFiles(s, "q200_stream_stream_join",
        sliceEventsForStream(s, d, nSlices = 8, mbRun.incrementAndGet()),
        EventsSchema) { src =>
        EventStreams.purchaseClickPairs(
          src.withColumn("ts", timestamp_micros(col("us"))),
          withWatermark = true)
      }
        .orderBy(col("purchase_id"), col("click_id"))
    }),

    // STREAMING UPSERT SINK (foreachBatch → bucketed, versioned serving
    // table): the events stream applied as a CDC change log — each event
    // upserts its user's (event_type, value), 'error' is a delete
    // tombstone — into an on-storage keyed table, one micro-batch per
    // slice, only TOUCHED buckets rewritten per batch (the write shape
    // that survives 100× volume: a batch touching 3 of 4096 buckets
    // rewrites 3 buckets, not the table). The gate reads the FINAL
    // materialized state back from the bucket files and hashes it against
    // the latest-op-wins oracle — so cross-batch merge order, tombstone
    // retention, and the versioned-bucket read rule are all on the hook.
    // Must equal q201's CDC-apply semantics restricted to keys in the log.
    "q202_stream_upsert_sink" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        col("event_type"), col("value"))
      val runId = mbRun.incrementAndGet()
      val root = claimSinkRoot("q202_stream_upsert_sink", runId)
      val sliceDir = writeRangeSliced(s, s"graft_stream_${jvmTag}_$runId",
        ev, "us", 8)
      val state =
        try graft.streaming.UpsertSink.run(s, sliceDir,
          "user_id LONG, us LONG, event_id LONG, event_type STRING, value DOUBLE",
          root.resolve("state"), keyCol = "user_id",
          ordCols = Seq("us", "event_id"), opCol = "event_type",
          deleteOp = "error", payloadCols = Seq("value"), nBuckets = 8)
        finally deleteTree(java.nio.file.Paths.get(sliceDir))
      state
        .select(col("user_id"), col("event_type").as("last_event_type"),
          col("value").as("last_value"))
        .orderBy(col("user_id"))
    }),

    // CRASH-RESTART for the UPSERT sink (q194/q198's harness applied to
    // q202's stream — the one streaming gate whose exactly-once is the
    // ENGINE'S OWN code, not the file sink's transaction log; before this
    // gate the replay claim in UpsertSink's doc was argued in comments and
    // spec'd at toy scale only). Incarnation 1 drains 4 of the 8 CDC
    // slices; then the sharpest reachable crash state is constructed by
    // hand: the newest commit-log entry is deleted (offsets written,
    // commit missing), the newest manifest is deleted, and the newest
    // version dir is renamed back to its `_tmp_v` staging name — exactly a
    // crash between the staging write and the publish rename. Incarnation
    // 2 resumes from the checkpoint: its replayed batch must GC the
    // orphaned staging dir, re-merge from the last MANIFESTED state, and
    // republish idempotently before the remaining slices apply. The final
    // bucket table is hashed against q202's latest-op-wins oracle
    // VERBATIM: a lost bucket, a double-applied change, or a reader
    // trusting unmanifested data all hash-fail.
    "q203_stream_upsert_restart" -> ((s, d) => {
      import java.nio.file.{Files, Paths}
      val ev = Tables.events(s, d).select(col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        col("event_type"), col("value"))
      val runId = mbRun.incrementAndGet()
      val root = claimSinkRoot("q203_stream_upsert_restart", runId)
      val sliceDir = writeRangeSliced(s, s"graft_stream_${jvmTag}_$runId",
        ev, "us", 8)
      val stateRoot = root.resolve("state")
      val schema =
        "user_id LONG, us LONG, event_id LONG, event_type STRING, value DOUBLE"
      val applier = new graft.streaming.UpsertSink.Applier(s, stateRoot,
        "user_id", Seq("us", "event_id"), "event_type", Seq("value"),
        nBuckets = 8)
      try {
        val all = listDir(Paths.get(sliceDir)).sortBy(_.getFileName.toString)
        val live = Paths.get(System.getProperty("java.io.tmpdir"),
          s"graft_stream_${jvmTag}_live_$runId")
        if (Files.exists(live)) deleteTree(live)
        Files.createDirectories(live)
        def reveal(ps: Seq[java.nio.file.Path]): Unit = ps.foreach { p =>
          Files.move(p, live.resolve(p.getFileName))
        }
        reveal(all.take(4))
        try {
          graft.streaming.UpsertSink.runIncarnation(
            s, live.toString, schema, stateRoot, applier)
          // Forced crash between staging write and publish of the newest
          // batch: commit gone, manifest gone, data back in staging.
          val commits = listDir(stateRoot.resolve("_ckpt").resolve("commits"))
            .filter(_.getFileName.toString.matches("\\d+"))
          val newest = commits.maxBy(_.getFileName.toString.toLong)
          val lastBatch = newest.getFileName.toString.toLong
          Files.delete(newest)
          Files.deleteIfExists(
            newest.resolveSibling(s".${newest.getFileName}.crc"))
          Files.deleteIfExists(
            stateRoot.resolve("_manifest").resolve(lastBatch.toString))
          val vDir = stateRoot.resolve(s"v$lastBatch")
          if (Files.exists(vDir))
            Files.move(vDir, stateRoot.resolve(s"_tmp_v$lastBatch"))
          reveal(all.drop(4))
          graft.streaming.UpsertSink.runIncarnation(
            s, live.toString, schema, stateRoot, applier)
        } finally deleteTree(live)
      } finally deleteTree(Paths.get(sliceDir))
      graft.streaming.UpsertSink
        .readState(s, stateRoot, "user_id", "event_type",
          deleteOp = "error", payloadCols = Seq("value"))
        .select(col("user_id"), col("event_type").as("last_event_type"),
          col("value").as("last_value"))
        .orderBy(col("user_id"))
    }),

    "q187_stream_sessionization_microbatch" -> ((s, d) => {
      import s.implicits._
      val sink = runMicroBatch(s, d, "graft_mb_sessionize") { src =>
        EventStreams.sessionize(src.filter(col("user_id") >= 0)
          .select(col("user_id"), col("event_id"), col("event_type"), col("us"))
          .as[EventStreams.SessEvent]).toDF()
      }
      sink.groupBy(col("user_id"), col("session_idx"))
        .agg(max_by(struct(col("n_events"), col("n_types"), col("dur_s"),
          col("first_event")), col("n_events")).as("f"))
        .select(col("user_id"), col("session_idx"), col("f.n_events"),
          col("f.n_types"), col("f.dur_s"), col("f.first_event"))
        .orderBy(col("user_id"), col("session_idx"))
    })
  )

  /** q41's gaps-and-islands oracle — shared verbatim with the micro-batch
    * run (q186): streaming execution must land on identical rows. */
  private val sessionWindowSql: String = """
      WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 2 HOUR
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sessions AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked)
      SELECT user_id,
             strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
             COUNT(*) AS n_events
      FROM sessions
      GROUP BY user_id, sid
      ORDER BY user_id, session_start"""

  /** q53's oracle — shared verbatim with the real micro-batch run (q192):
    * the streaming kernel under actual `writeStream` execution must land
    * on identical rows to the batch-mode twin. */
  private val exactDedupSql: String = s"""
      WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
        FROM documents),
      h AS (
        SELECT doc_id,
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(toks, x -> CAST(${TextPipelineQueries.hex32} AS BIGINT))),
                 (a, b) -> (a * 31 + b) % 1000000007) AS fp
        FROM t)
      SELECT doc_id, fp,
             MIN(doc_id) OVER (PARTITION BY fp) AS first_id,
             doc_id <> MIN(doc_id) OVER (PARTITION BY fp) AS is_dup
      FROM h
      ORDER BY doc_id"""

  /** q57's oracle — inclusive on both ends, exactly the Spark predicate;
    * shared verbatim with the real stream-stream run (q200): watermarked
    * join-state execution must land on identical pairs. */
  private val intervalJoinSql: String = """
      WITH p AS (SELECT event_id, ts, user_id FROM events WHERE event_type = 'purchase'),
           c AS (SELECT event_id, ts, user_id FROM events WHERE event_type = 'click')
      SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
             epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
      FROM p
      JOIN c ON c.user_id = p.user_id
            AND c.ts <= p.ts
            AND c.ts >= p.ts - INTERVAL 1 HOUR
      ORDER BY purchase_id, click_id"""

  /** q54's oracle — shared verbatim with the real micro-batch run (q193). */
  private val nearDedupSql: String = s"""
      WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
        FROM documents),
      s AS (
        SELECT doc_id,
               list_distinct(list_transform(
                 generate_series(1, greatest(len(toks) - 2, 1)),
                 i -> array_to_string(toks[i:i+2], ' '))) AS sh
        FROM t),
      hashed AS (
        SELECT doc_id,
               list_transform(sh, x -> CAST(${TextPipelineQueries.hex32} AS BIGINT)) AS hs
        FROM s),
      sig AS (
        SELECT doc_id,
               [list_min(list_transform(hs, h -> (h * (2*j + 1) + j*j + 7) % 2147483647))
                for j in generate_series(0, 7)] AS mh
        FROM hashed),
      bands AS (
        SELECT doc_id, b, md5(mh[2*b+1] || '|' || mh[2*b+2]) AS key
        FROM sig, generate_series(0, 3) g(b)),
      matches AS (
        SELECT by.doc_id AS doc_id, by.b AS band, bx.doc_id AS cand,
               list_sum(list_transform(generate_series(1, 8),
                 i -> CASE WHEN sx.mh[i] = sy.mh[i] THEN 1 ELSE 0 END)) AS n_agree
        FROM bands bx
        JOIN bands by ON bx.b = by.b AND bx.key = by.key AND bx.doc_id < by.doc_id
        JOIN sig sx ON bx.doc_id = sx.doc_id
        JOIN sig sy ON by.doc_id = sy.doc_id)
      SELECT doc_id, CAST(band AS INTEGER) AS band,
             MIN(cand) AS dup_of,
             CAST(arg_min(n_agree, cand) AS DOUBLE) / 8 AS est_jaccard
      FROM matches
      WHERE n_agree >= 4
      GROUP BY doc_id, band
      ORDER BY doc_id, band"""

  /** q202's oracle — shared verbatim with the crash-restart run (q203):
    * crash + replay + continuation must be indistinguishable from the
    * uninterrupted stream. */
  private val upsertSinkSql: String = """
      WITH latest AS (
        SELECT user_id,
               arg_max(event_type,
                 CAST(epoch_us(ts) AS HUGEINT) * 10000000 + event_id) AS last_event_type,
               arg_max(value,
                 CAST(epoch_us(ts) AS HUGEINT) * 10000000 + event_id) AS last_value
        FROM events GROUP BY user_id)
      SELECT user_id, last_event_type, last_value
      FROM latest
      WHERE last_event_type <> 'error'
      ORDER BY user_id"""

  val oracles: Map[String, String] = Map(
    // Oracle-identity with the batch window formulation: the defining
    // property of the streaming kernel is equality with q130.
    "q143_stream_sessionization" ->
      RelationalQueries.oracles("q130_sessionization"),
    // The micro-batch runs are gated against the SAME oracles as their
    // batch twins — real streaming execution must land on identical rows.
    "q187_stream_sessionization_microbatch" ->
      RelationalQueries.oracles("q130_sessionization"),
    "q40_tumbling_window" -> """
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
             event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(value*100) AS BIGINT))/100.0 AS DOUBLE) AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY window_start, event_type""",

    // Gaps-and-islands: a session break is a gap STRICTLY GREATER than the
    // 2h inactivity timeout (Spark merges windows that touch exactly:
    // [t, t+gap) U [t+gap, ...) share the boundary instant).
    "q41_session_window" -> sessionWindowSql,
    // Micro-batch run of the same session-window aggregation: same oracle.
    "q186_stream_sessions_microbatch" -> sessionWindowSql,
    // File-sink run: what the parquet sink durably wrote must equal the
    // same oracle rows.
    "q191_stream_sessions_filesink" -> sessionWindowSql,
    // Crash + checkpoint-restart run: the sink after a replayed trigger
    // and a resumed query must STILL equal the uninterrupted oracle rows
    // (exactly-once across restarts).
    "q194_stream_sessions_restart" -> sessionWindowSql,
    // Compacted-sink run: rewriting the sink's files must not change one
    // row — same oracle as the stream that filled it.
    "q197_stream_sink_compaction" -> sessionWindowSql,

    // Per-event cents rounding mirrors the state kernel's
    // `cents += math.round(value * 100)` exactly (all values positive, so
    // JS/Scala half-up and DuckDB half-away-from-zero agree).
    "q46_running_totals" -> """
      SELECT user_id,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS DOUBLE) AS total_value
      FROM events
      GROUP BY user_id
      ORDER BY user_id""",

    // Each event belongs to the two hour-aligned 2h windows covering it.
    "q42_sliding_window" -> """
      SELECT strftime(date_trunc('hour', ts) - o * INTERVAL 1 HOUR,
                      '%Y-%m-%d %H:%M:%S') AS window_start,
             COUNT(*) AS n
      FROM events, unnest([0, 1]) AS t(o)
      GROUP BY 1
      ORDER BY window_start""",

    // Streaming exact dedup ≡ per-fingerprint min-id: the fingerprint CTE
    // is q48's Rabin-Karp fold verbatim (same hex32 hash arithmetic), the
    // verdict columns are pure window SQL over it.
    "q53_stream_exact_dedup" -> exactDedupSql,
    // The REAL micro-batch + parquet-sink run of the same kernel: what the
    // file sink durably wrote across 8 stateful triggers must equal the
    // batch twin's oracle rows.
    "q192_stream_exact_dedup_microbatch" -> exactDedupSql,
    // Crash + checkpoint-restart run of the dedup kernel: the replayed
    // trigger's verdicts from restored state plus the resumed stream must
    // STILL equal the uninterrupted batch twin's rows.
    "q198_stream_exact_dedup_restart" -> exactDedupSql,

    // Stream-static join: the sink after 8 enrichment micro-batches must
    // hold exactly the batch join's rows.
    "q199_stream_static_join" -> """
      SELECT e.event_id, e.user_id, e.event_type, e.value,
             c.c_mktsegment, c.c_nationkey
      FROM events e
      JOIN customer c ON e.user_id = c.c_custkey
      ORDER BY e.event_id""",

    // Stream-stream run of the interval join: the watermarked join-state
    // execution must land on the batch twin's exact pair set.
    "q200_stream_stream_join" -> intervalJoinSql,

    // Streaming upsert sink: the final bucketed state after 8 foreachBatch
    // merges must equal latest-op-wins over the whole log (the same
    // HUGEINT-packed unique order as q201's oracle), tombstoned keys
    // absent.
    "q202_stream_upsert_sink" -> upsertSinkSql,
    // Crash + checkpoint-restart run of the upsert sink: the table after a
    // forced mid-publish crash, a replayed merge from manifested state,
    // and the resumed stream must STILL equal the uninterrupted oracle
    // rows (the engine-owned exactly-once claim, machine-checked).
    "q203_stream_upsert_restart" -> upsertSinkSql,

    // Streaming near-dup kernel ≡ per-(doc, band) earliest bucket member
    // with slot agreement >= 4/8. The shingle/minhash/band CTEs are the
    // q34 oracle's construction (8 affine permutations, 4 bands × 2 rows,
    // md5 band keys) with the same hex32 hash arithmetic; the verdict is a
    // grouped min over agreement-qualified in-bucket predecessors, with
    // arg_min picking the est_jaccard of exactly the member the kernel's
    // oldest-first scan reports.
    "q54_stream_near_dedup" -> nearDedupSql,
    // The REAL micro-batch + parquet-sink run of the same kernel: bucket
    // state accumulated across triggers must yield the batch twin's rows.
    "q193_stream_near_dedup_microbatch" -> nearDedupSql,

    // Capped kernel ≡ first-N retention per bucket: processing is doc_id
    // ordered, so the held set when a doc arrives is the first
    // min(rank-1, N) bucket members — candidates are rank < own AND
    // rank <= N; eviction verdicts (dup_of -1, est 0) are the rank > N
    // members. N = 2 here (the Spark side's maxBucketSigs).
    "q55_stream_near_dedup_evict" -> s"""
      WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
        FROM documents),
      s AS (
        SELECT doc_id,
               list_distinct(list_transform(
                 generate_series(1, greatest(len(toks) - 2, 1)),
                 i -> array_to_string(toks[i:i+2], ' '))) AS sh
        FROM t),
      hashed AS (
        SELECT doc_id,
               list_transform(sh, x -> CAST(${TextPipelineQueries.hex32} AS BIGINT)) AS hs
        FROM s),
      sig AS (
        SELECT doc_id,
               [list_min(list_transform(hs, h -> (h * (2*j + 1) + j*j + 7) % 2147483647))
                for j in generate_series(0, 7)] AS mh
        FROM hashed),
      ranked AS (
        SELECT sig.doc_id, b, md5(mh[2*b+1] || '|' || mh[2*b+2]) AS key, mh,
               row_number() OVER (
                 PARTITION BY b, md5(mh[2*b+1] || '|' || mh[2*b+2])
                 ORDER BY sig.doc_id) AS rk
        FROM sig, generate_series(0, 3) g(b)),
      matches AS (
        SELECT y.doc_id AS doc_id, y.b AS band, x.doc_id AS cand,
               list_sum(list_transform(generate_series(1, 8),
                 i -> CASE WHEN x.mh[i] = y.mh[i] THEN 1 ELSE 0 END)) AS n_agree
        FROM ranked x
        JOIN ranked y ON x.b = y.b AND x.key = y.key
                     AND x.rk < y.rk AND x.rk <= 2),
      dups AS (
        SELECT doc_id, CAST(band AS INTEGER) AS band,
               MIN(cand) AS dup_of,
               CAST(arg_min(n_agree, cand) AS DOUBLE) / 8 AS est_jaccard
        FROM matches
        WHERE n_agree >= 4
        GROUP BY doc_id, band),
      evict AS (
        SELECT doc_id, CAST(b AS INTEGER) AS band,
               CAST(-1 AS BIGINT) AS dup_of, CAST(0.0 AS DOUBLE) AS est_jaccard
        FROM ranked
        WHERE rk > 2)
      SELECT * FROM dups
      UNION ALL
      SELECT * FROM evict
      ORDER BY doc_id, band, dup_of""",

    // Interval join: inclusive on both ends, exactly the Spark predicate.
    "q57_interval_join" -> intervalJoinSql,

    // As-of ≡ arg_max over at-or-before candidates. The operator's window
    // order is (time, then tie=event_id); arg_max needs one scalar key, so
    // both are packed into an exact HUGEINT `epoch_us(ts)·10^7 + event_id`
    // (ids are well under 10^7 at every tier — lossless lexicographic
    // encoding). LEFT JOIN keeps no-match purchases; arg_max ignores
    // NULL-keyed rows, so their match columns stay NULL.
    "q56_asof_join" -> """
      WITH p AS (SELECT event_id, ts, user_id FROM events WHERE event_type = 'purchase'),
           c AS (SELECT event_id, ts, user_id,
                        CAST(epoch_us(ts) AS HUGEINT) * 10000000 + event_id AS ok
                 FROM events WHERE event_type = 'click')
      SELECT p.event_id AS purchase_id,
             p.user_id,
             strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
             arg_max(c.event_id, c.ok) AS click_id,
             strftime(arg_max(c.ts, c.ok), '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
             epoch_us(p.ts) - arg_max(epoch_us(c.ts), c.ok) AS gap_us
      FROM p
      LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
      GROUP BY p.event_id, p.user_id, p.ts
      ORDER BY purchase_id"""
  )
}
