package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.proto._
import graft.conv.GraftConfig
import graft.operators.Ckpt.Rounds

/** Structured Streaming surface (SURVEY.md §2 Part B, streaming row): the
  * reference's production use case is micro-batch proto ingestion off
  * Kafka (docs/faq.md:20-25); here that becomes: a stream of wire-format
  * proto payloads → typed rows → watermarked windowed aggregation →
  * sinks, all incremental.
  *
  * Scale posture: stateful aggregations are keyed by (window, key) — state
  * is partitioned by the grouping key across executors; watermarks bound
  * state size; `foreachBatch` reuses the batch conversion paths unchanged.
  */
object StreamOps {

  /** The commit ledger of the restartable maintainers: a directory of
    * numbered subdirectories `dir/<prefix><n>`, where `n` counts as
    * committed once its directory holds `_SUCCESS` (every parquet write
    * leaves one; [[Ledger.commit]] writes it where an epoch has no write
    * of its own). A crashed attempt leaves no `_SUCCESS`, so its torn
    * directory is invisible here and the retry overwrites it. */
  private object Ledger {
    import org.apache.hadoop.fs.{FileSystem, Path}

    private def numbered(spark: SparkSession, dir: String, prefix: String)
        : (FileSystem, Seq[(Long, Path)]) = {
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val ns = if (!fs.exists(p)) Nil else fs.listStatus(p).toSeq.collect {
        case s if s.isDirectory && s.getPath.getName.startsWith(prefix) =>
          (s.getPath.getName.stripPrefix(prefix).toLong, s.getPath)
      }
      (fs, ns.sortBy(_._1))
    }

    /** The committed numbers, ascending. */
    def committed(spark: SparkSession, dir: String, prefix: String): Seq[Long] = {
      val (fs, ns) = numbered(spark, dir, prefix)
      ns.collect { case (n, p) if fs.exists(new Path(p, "_SUCCESS")) => n }
    }

    /** Commits `n` with an empty `_SUCCESS`. */
    def commit(spark: SparkSession, dir: String, prefix: String, n: Long): Unit = {
      val p = new Path(dir, s"$prefix$n/_SUCCESS")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true).close()
    }

    /** Deletes every numbered directory below `n`, committed or torn;
      * callers run it only after `n` has committed. */
    def pruneBelow(spark: SparkSession, dir: String, prefix: String, n: Long): Unit = {
      val (fs, ns) = numbered(spark, dir, prefix)
      ns.foreach { case (m, p) => if (m < n) fs.delete(p, true) }
    }
  }

  /** Tumbling-window counts with a watermark: event-time aggregation whose
    * state is bounded by the watermark (late events beyond it are dropped). */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
      window_ : String = "1 hour", watermark: String = "2 hours",
      valueCol: String = "value"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("sum_value"))

  /** Sliding (hopping) window counts — the streaming twin of
    * [[graft.operators.Events.q71SlidingWindows]]: each event enters
    * window-length/slide overlapping window states; the watermark bounds
    * how many remain open. StreamingSpec pins the emitted counts equal
    * to the batch explode+aggregate form on the same fixture. */
  def slidingCounts(events: DataFrame, tsCol: String, keyCol: String,
      window_ : String = "1 hour", slide: String = "15 minutes",
      watermark: String = "2 hours", valueCol: String = "value"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_, slide), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("sum_value"))

  /** Session windows (gap-based), the streaming twin of
    * [[graft.operators.Events.q52Sessionization]]. */
  def sessionCounts(events: DataFrame, tsCol: String, keyCol: String,
      gap: String = "30 minutes", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))

  /** The BUILT-IN dedup tier beside [[dedupFirstSeen]]: Spark's
    * `dropDuplicatesWithinWatermark` keeps the first ARRIVAL per key,
    * with dedup guaranteed only inside the watermark horizon — the same
    * bounded-state posture dedupFirstSeen implements by hand (explicit
    * event-time timeout). Reach for the built-in when first-arrival
    * semantics suffice; the custom tier gives first-by-EVENT-TIME
    * within a batch and tombstone control. StreamingSpec pins both to
    * the same answer on an in-order fixture, cross-batch. The caller
    * sets the watermark (same contract as dedupFirstSeen). */
  def dedupWithinWatermark(events: DataFrame, keyCol: String): DataFrame =
    events.dropDuplicatesWithinWatermark(Seq(keyCol))

  /** Streaming exact dedup (ingestion-time): emits the first *emitted*
    * occurrence of each key (e.g. a content hash) within the
    * watermark+timeout horizon — the `flatMapGroupsWithState` custom-state
    * tier (SURVEY §2 Part B streaming row): per-key state is one boolean,
    * partitioned by key across executors, and evicted by the event-time
    * timeout once the watermark passes it, so state stays bounded. Bounded
    * state necessarily weakens the guarantee vs global first-by-event-time:
    * within one micro-batch the smallest event time wins, but a
    * smaller-event-time row arriving in a LATER batch is dropped (the key
    * already emitted), and once the 2-hour timeout evicts a key's tombstone
    * a re-occurrence counts as new. This is the dedup a training-data
    * pipeline runs in front of the corpus store (batch twin — exact, global:
    * [[graft.operators.Dedup.d26ExactDedup]]).
    *
    * Rows must carry (key: String, ts: Timestamp, payload: String); the
    * watermark must already be set by the caller via `withWatermark`. */
  def dedupFirstSeen(events: Dataset[(String, java.sql.Timestamp, String)])
      : Dataset[(String, java.sql.Timestamp, String)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val enc = Encoders.tuple(Encoders.STRING,
      Encoders.TIMESTAMP, Encoders.STRING)
    implicit val boolEnc = Encoders.scalaBoolean
    events
      .groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(
        (_: String, rows: Iterator[(String, java.sql.Timestamp, String)],
         state: GroupState[Boolean]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists) Iterator.empty // key already emitted
          else {
            val first = rows.min(Ordering.by((r: (String, java.sql.Timestamp, String)) => r._2.getTime))
            state.update(true)
            // keep the key's tombstone until the watermark passes its event
            // time by the gap below; afterwards a re-occurrence counts as new
            state.setTimeoutTimestamp(first._2.getTime, "2 hours")
            Iterator.single(first)
          }
        })
  }

  /** Streaming MinHash-LSH near-dup detection (ingestion-time): the
    * near-dup twin of [[dedupFirstSeen]] and of the batch
    * [[graft.operators.Dedup.d28MinhashLsh]]. Each document is shingled
    * and minhash-signed statelessly (the same kernel/permutations as the
    * batch tier, so the two tiers agree exactly), then exploded to its 4
    * LSH band keys; state lives PER BAND BUCKET (partitioned by band key
    * across executors) and holds the bucket's recent (doc_id, ts,
    * shingle-set) entries. The DETECTION HORIZON is `stateTimeoutMs`:
    * pairs are guaranteed for docs whose event times lie within it; state
    * stays bounded because a quiet bucket is evicted whole by the
    * event-time timeout and, inside an always-active bucket, each entry
    * is pruned once the watermark passes its event time by the same
    * window. Redelivered doc_ids (at-least-once sources) are skipped, not
    * duplicated. A new document is verified (exact Jaccard ≥
    * `jaccardMin`) only against its own buckets — the same sub-quadratic
    * candidate pruning as the batch plan, incrementally.
    *
    * Emission is at-least-once per SHARED band (a pair colliding in two
    * bands emits twice, with the identical jaccard value) — deduplicate
    * downstream (`.distinct()` per micro-batch or idempotent sink), the
    * same contract as the batch candidate stage before its DISTINCT.
    * Unlike the batch tier there is no corpus-wide hot-shingle DF cap
    * (document frequency is unknowable mid-stream); pass a precomputed
    * stop-shingle set from the batch profile via `hotShingles` to keep
    * hot buckets bounded at scale.
    *
    * State-size note: each document's full shingle-hash array is held in
    * ALL 4 band buckets' state for the whole detection horizon — a 4×
    * amplification of per-doc set storage. That is the dominant state
    * cost with long documents; if it bites, store sets once in a
    * doc-keyed state and keep only (doc_id, ts) per band at the price of
    * a second stateful join.
    *
    * Rows carry (doc_id, ts, text). The watermark is (re)applied here,
    * after the shingling map — event-time metadata does not survive an
    * object-serializing mapPartitions, and the stateful operator requires
    * it on its direct input. */
  def nearDupPairs(docs: Dataset[(Long, java.sql.Timestamp, String)],
      jaccardMin: Double = 0.5, stateTimeoutMs: Long = 2 * 3600 * 1000L,
      hotShingles: Set[Long] = Set.empty, watermark: String = "1 hour")
      : Dataset[(Long, Long, Double)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    val hot = hotShingles // stable local for closure capture
    val banded = docs.mapPartitions { it =>
      val md5 = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { case (id, ts, text) =>
        val th0 = graft.operators.Dedup.shingleHashesOf(text, md5)
        val th = if (hot.isEmpty) th0 else th0.filterNot(hot)
        if (th.isEmpty) Iterator.empty // no shingles → cannot near-dup
        else {
          val sig = graft.operators.Dedup.minhashSig(th)
          (0 until 4).iterator.map { b =>
            (s"$b:${sig(3 * b)},${sig(3 * b + 1)},${sig(3 * b + 2)}", id, ts, th)
          }
        }
      }
    }
    banded.withWatermark("_3", watermark)
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(
        (_: String, rows: Iterator[(String, Long, java.sql.Timestamp, Array[Long])],
         state: GroupState[List[(Long, Long, Array[Long])]]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // per-entry age pruning: a bucket that stays active forever
            // never hits the quiet-bucket timeout, so entries are dropped
            // HERE once the watermark passes their event time by the
            // stateTimeout window. Pruning at the RAW watermark would be
            // wrong — a pruned entry can still pair with on-time future
            // docs — so an entry lives the full detection horizon: pairs
            // are guaranteed for docs whose event times lie within
            // stateTimeoutMs of each other, the same horizon the
            // quiet-bucket timeout implements.
            val wm = state.getCurrentWatermarkMs()
            var seen = state.getOption.getOrElse(Nil)
              .filter(_._2 + stateTimeoutMs >= wm)
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
            var maxTs = Long.MinValue
            rows.foreach { case (_, id, ts, th) =>
              if (ts.getTime > maxTs) maxTs = ts.getTime
              // at-least-once sources can redeliver a doc: skip entries
              // already in this bucket instead of duplicating them
              if (!seen.exists(_._1 == id)) {
                val set = th.toSet
                seen.foreach { case (pid, _, pth) =>
                  var inter = 0
                  var i = 0
                  while (i < pth.length) { if (set(pth(i))) inter += 1; i += 1 }
                  val j = inter.toDouble / (th.length + pth.length - inter)
                  if (j >= jaccardMin)
                    out += ((math.min(id, pid), math.max(id, pid), j))
                }
                seen = (id, ts.getTime, th) :: seen
              }
            }
            state.update(seen)
            // clamped: FlatMapGroupsWithStateExec drops rows older than the
            // watermark under EventTimeTimeout, so maxTs + stateTimeoutMs is
            // normally > watermark — but if the operator is ever reused with
            // a stateTimeoutMs shorter than the watermark delay, an unclamped
            // value below the current watermark would throw and kill the query
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs() + 1, maxTs + stateTimeoutMs))
            out.iterator
          }
        })
  }

  /** Streaming per-source admission quota: the ingestion-time twin of
    * [[graft.operators.Pipeline.x91SourceMix]]'s source balancing — admit
    * at most `quota` documents per source. State is ONE counter per
    * source (bounded by source cardinality, never by stream length), so
    * no watermark or timeout is needed.
    *
    * The CONTRACT is the cap plus monotone admission (an admitted doc is
    * never revoked; later batches admit only the remaining quota).
    * Admission across micro-batches follows batch order; WITHIN a batch
    * the group iterator's order after the groupByKey shuffle is
    * unspecified, so which rows win a batch that overshoots the quota is
    * not defined — batch x91 is the tier with layout-reproducible
    * (hash-ordered) selection, and a stream cannot offer that without
    * buffering its whole horizon. */
  def sourceQuota(docs: Dataset[(String, Long, String)], quota: Int)
      : Dataset[(String, Long, String)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    docs.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(
        (_: String, rows: Iterator[(String, Long, String)],
         state: GroupState[Long]) => {
          var n = state.getOption.getOrElse(0L)
          val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, String)]
          // stop consuming once the quota fills: a hot source (the 10k-dup
          // SkewBench shape) would otherwise be walked to the end of every
          // batch forever for zero admissions
          while (n < quota && rows.hasNext) { out += rows.next(); n += 1 }
          state.update(n)
          out.iterator
        })
  }

  /** Streaming ingest decontamination: drop documents whose word-3-gram
    * overlap with a precomputed held-out profile exceeds
    * `maxContamination` — the ingestion-time twin of the batch
    * [[graft.operators.Pipeline.x92Decontamination]], sharing its shingle
    * kernel so the two tiers agree exactly on what "contaminated" means.
    *
    * Stateless (a pure mapPartitions filter), so it works identically on
    * batch and streaming Datasets and needs no watermark. `evalShingles`
    * is the held-out split's distinct shingle-hash set, computed offline
    * (benchmark suites are MB-sized, so the set ships fine in the task
    * closure — the same offline-profile pattern as [[nearDupPairs]]'s
    * `hotShingles`). Documents too short to shingle are KEPT: with no
    * shingles, overlap is undefined (batch x92 reports NULL), and a
    * decontamination gate must not silently delete unmeasurable docs. */
  def contaminationFilter(docs: Dataset[(Long, String)],
      evalShingles: Set[Long], maxContamination: Double = 0.2)
      : Dataset[(Long, String)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ev = evalShingles // stable local for closure capture
    docs.mapPartitions { it =>
      val md5 = java.security.MessageDigest.getInstance("MD5")
      it.filter { case (_, text) =>
        val th = graft.operators.Dedup.shingleHashesOf(text, md5)
        th.isEmpty || {
          var cont = 0
          var i = 0
          while (i < th.length) { if (ev(th(i))) cont += 1; i += 1 }
          cont.toDouble / th.length <= maxContamination
        }
      }
    }
  }

  /** Micro-batch conversion sink: each batch re-encoded to proto wire
    * bytes — the foreachBatch shape the reference's Kafka pipelines use. */
  def protoSink(stream: DataFrame, md: PMessageDesc, cfg: GraftConfig,
      reg: ProtoRegistry)(consume: Dataset[Array[Byte]] => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      consume(graft.Protarrow.toProtoBinary(batch, md, cfg, reg))
    }

  /** x96's cell scope at ingest time: every arriving embedding is scored
    * against the batch-trained centroid matrix and assigned its semantic
    * cell — stateless and map-only, so downstream per-cell state (counts,
    * candidate sets for cross-batch semantic dedup) hangs off a plain
    * streaming aggregation. Expects a `v: array<double>` column; appends
    * `nrm` and `cell` computed EXACTLY as batch x96's assignment
    * (same argmax expression, same tie-break — StreamingSpec pins the
    * streamed cell partition equal to the batch one).
    *
    * Always the literal-matrix form, never the large-K broadcast join:
    * that form ends in a per-vector argmin AGGREGATION, and a streaming
    * query cannot chain another aggregation behind it — while the
    * literal form's plan grows O(K·Dim), which at ingest is fine for the
    * K this engine trains here and degrades loudly (analysis error /
    * codegen fallback), not silently. At SemDeDup-scale K, assign at
    * ingest against a periodically refreshed coarser matrix and leave
    * exact cell refinement to the batch pass. */
  def assignCellsStream(embeddings: DataFrame,
      cent: Seq[(Long, Seq[Double])]): DataFrame =
    embeddings
      .withColumn("nrm", graft.operators.Cosine.norm(col("v")))
      .withColumn("cell", graft.operators.Similarity.cellAssignLiteral(cent))

  /** t32's chunking at ingest time: each arriving (doc_id, text) row
    * explodes into its overlapping 64-token / 48-stride chunk rows —
    * stateless and map-only (split/sequence/explode/slice built-ins), so
    * it runs in append mode with no watermark or state and composes in
    * front of any stateful stage. StreamingSpec pins the streamed chunk
    * set equal to batch t32's on the same documents. */
  def chunkStream(docs: DataFrame): DataFrame =
    graft.operators.TextOps.chunkRows(docs)

  /** Windowed first-event dedup — the streaming twin of
    * [[graft.operators.Events.q73WindowedDedup]]: within each 10-minute
    * tumbling window keep the first (ts, event_id) event per
    * (user_id, event_type) and count what it suppressed. A watermarked
    * window AGGREGATION, not arbitrary state: per open window the state
    * is one min_by candidate + one count (O(1)), evicted when the
    * watermark closes the window — so this twin, unlike
    * [[dedupFirstSeen]]'s bounded-horizon approximation, is EXACTLY the
    * batch semantics once windows finalize (append mode emits only
    * closed windows). StreamingSpec pins the emitted rows equal to the
    * batch form on the same fixture.
    *
    * `events` columns: event_id long, ts timestamp, user_id long,
    * event_type string. */
  def windowedFirstEvent(events: DataFrame, window_ : String = "10 minutes",
      delay: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), window_), col("user_id"), col("event_type"))
      .agg(
        min_by(struct(col("event_id"), col("ts")),
          struct(col("ts"), col("event_id"))).as("first"),
        (count(lit(1)) - 1).as("n_dups"))
      .select(col("first.event_id").as("event_id"), col("user_id"),
        col("event_type"), col("window"), col("first.ts").as("first_ts"),
        col("n_dups"))

  /** Streaming SCD2 / change-data maintenance — the ingest twin of the
    * batch q80 history build: each key's attribute stream folds into
    * type-2 dimension versions, and a version row is EMITTED the moment
    * a change CLOSES it (valid_to = the change's time). State per key is
    * the single OPEN version (value + valid_from) — O(1) forever, no
    * watermark needed for state size. The open version itself is never
    * emitted (append mode has nothing final to say about it); the batch
    * query remains the source of open-version reads, which is the
    * standard lambda split for dimension maintenance.
    *
    * CONTRACT: per-key IN-ORDER delivery across micro-batches (the Kafka
    * key-partitioning guarantee); within a micro-batch rows are sorted
    * by (ts, event_id) before the fold, so intra-batch disorder is
    * repaired. Consecutive equal values collapse exactly like the batch
    * form. `props` must be non-null in the stream tier (the state tuple
    * cannot hold a null run); the batch form owns null-valued history.
    * StreamingSpec pins the emitted rows equal to the batch collapse
    * semantics recomputed on the same fixture, including a version
    * opened in one micro-batch and closed in the next.
    *
    * Rows: (user_id, ts, event_id, props) → emitted
    * (user_id, props, valid_from_ms, valid_to_ms). */
  def scd2Stream(events: Dataset[(Long, java.sql.Timestamp, Long, String)])
      : Dataset[(Long, String, Long, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val outEnc = Encoders.tuple(Encoders.scalaLong, Encoders.STRING,
      Encoders.scalaLong, Encoders.scalaLong)
    implicit val stEnc = Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
    events
      .groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, String)],
         state: GroupState[(String, Long)]) => {
          val sorted = rows.toSeq.sortBy(r => (r._2.getTime, r._3))
          var open = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long)]
          for ((_, ts, _, props) <- sorted) {
            val t = ts.getTime
            open match {
              case Some((p, from)) if p != props =>
                out += ((user, p, from, t)); open = Some((props, t))
              case None => open = Some((props, t))
              case _ => () // same value: the run continues
            }
          }
          open.foreach(state.update)
          out.iterator
        })
  }

  /** Streaming gap detection — q79's ingest twin: per key, emit a gap
    * row the moment an event arrives more than `gapMs` after the key's
    * previous event. State per key is ONE timestamp (the last event
    * time) — O(1) forever, the same carry scd2Stream holds. The q79
    * batch form finds historical gaps; this twin fires them live (the
    * sensor-outage / pipeline-stall alert path). Same contract as
    * [[scd2Stream]]: per-key in-order delivery across micro-batches,
    * intra-batch disorder repaired by the (ts, event_id) sort.
    *
    * Rows: (user_id, ts, event_id) → emitted
    * (user_id, gap_start_ms, gap_end_ms, gap_s). */
  def gapStream(events: Dataset[(Long, java.sql.Timestamp, Long)],
      gapMs: Long = 7200000L): Dataset[(Long, Long, Long, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val outEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaLong)
    implicit val stEnc = Encoders.scalaLong
    events
      .groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
         state: GroupState[Long]) => {
          val sorted = rows.toSeq.sortBy(r => (r._2.getTime, r._3))
          var prev = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
          for ((_, ts, _) <- sorted) {
            val t = ts.getTime
            prev.foreach { p =>
              if (t - p > gapMs) out += ((user, p, t, (t - p) / 1000L))
            }
            prev = Some(t)
          }
          prev.foreach(state.update)
          out.iterator
        })
  }

  /** Stream-stream attribution join — q65's streaming twin: for each
    * 'purchase' anchor, emit every other event landing within
    * `windowSec` after it, as both sides ARRIVE. The batch design maps
    * 1:1 onto Structured Streaming's state model: the time bin that
    * makes the batch join an equi-join is exactly the state-store key
    * here (anchors explode into their ≤2 bins, each point lands in one),
    * and the BETWEEN residual becomes the event-time range condition
    * that — together with the watermarks — lets Spark compute a state
    * watermark and EVICT anchors/points once no future match is
    * possible. Without the range condition the join state would grow
    * forever; with it, state is bounded by (watermark delay + window)
    * of traffic per bin. Inner join, append mode; matches emit as soon
    * as both sides have arrived. StreamingSpec pins the accumulated
    * match set equal to the batch theta join on the same fixture.
    *
    * `events` columns: event_id long, ts timestamp, event_type string,
    * value double. */
  def attributionJoin(events: DataFrame, windowSec: Long = 600L,
      delay: String = "30 minutes"): DataFrame = {
    val anchors = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("a_id"), col("ts").as("a_ts"))
      .withWatermark("a_ts", delay)
      .withColumn("bin", explode(expr(
        s"sequence(cast(a_ts as long) div $windowSec, " +
          s"(cast(a_ts as long) + $windowSec) div $windowSec)")))
    val points = events
      .select(col("event_id").as("p_id"), col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", delay)
      .withColumn("bin", expr(s"cast(p_ts as long) div $windowSec"))
    anchors.join(points,
        anchors("bin") === points("bin") &&
          col("p_ts") >= col("a_ts") &&
          col("p_ts") <= col("a_ts") + expr(s"interval $windowSec seconds") &&
          col("p_id") =!= col("a_id"))
      .select("a_id", "p_id", "value")
  }

  /** d37's streaming twin: incremental near-dup ADMISSION at ingest,
    * as a `foreachBatch` handler. Each micro-batch of (doc_id, text)
    * rows runs the SAME kernel as batch d37
    * ([[graft.operators.Dedup.incrementalAdmit]]) against the
    * accumulated index — the precomputed corpus sets/bands plus every
    * doc processed so far — then appends this batch's sets/bands so the
    * next micro-batch rejects against them too. Docs are appended
    * admitted or NOT: the greedy contract is "later arrivals reject
    * against all earlier arrivals", exactly batch d37's a_id < b_id
    * rule, so when micro-batches deliver in doc_id order the
    * accumulated verdicts are row-identical to one batch run
    * (StreamingSpec pins it). Verdict rows go to `sink` per batch.
    *
    * State posture: the in-memory accumulation is `localCheckpoint`ed
    * each round (the README checkpoint-per-round rule — the plan would
    * otherwise deepen every batch), and the per-batch probe cost is
    * ∝ batch size because the index side is never reshuffled by growth
    * (the kernel's join shuffles the SMALL new-docs side). In
    * production the accumulated frames are the index TABLES (append
    * admitted bands/sets to the bucketed layout d37CorpusIndex
    * bootstraps); the in-memory form here is the spec-scale stand-in
    * with the identical dataflow. */
  final class IngestAdmission(
      corpusSets: DataFrame, corpusBands: DataFrame, hotDf: DataFrame,
      sink: DataFrame => Unit) extends ((DataFrame, Long) => Unit) {
    private var sets = corpusSets
    private var bands = corpusBands
    private var lastBatchId: Long = -1L
    override def apply(batch: DataFrame, batchId: Long): Unit = synchronized {
      // at-least-once foreachBatch: a re-executed epoch arrives under
      // the same batchId — skip it so the index never double-appends
      // (same guard as CmsAccumulator; the sink must be idempotent or
      // batchId-keyed for full exactly-once, per the d37 scaladoc).
      // lastBatchId is advanced only AFTER sink + state append succeed:
      // if either throws, Spark retries the epoch under the same
      // batchId and the guard must let the retry through, not drop the
      // batch's verdicts and index rows on the floor.
      if (batchId <= lastBatchId) return
      val (verdicts, bsets, bbands) =
        graft.operators.Dedup.incrementalAdmit(batch, sets, bands, hotDf)
      sink(verdicts)
      sets = sets.unionByName(bsets).ckptRound
      bands = bands.unionByName(bbands).ckptRound
      bsets.unpersist()
      bbands.unpersist()
      lastBatchId = batchId
    }
  }

  /** x117's streaming twin: CONTINUOUS content-shard maintenance as a
    * `foreachBatch` sink — the resumable 100-TB export kept current
    * while documents stream in, instead of a nightly batch diff. Each
    * micro-batch of (doc_id, text) rows:
    *  1. hashes its docs into x105's stable content bands
    *     ([[graft.operators.Pipeline.HashShardW]], the SAME shard rule
    *     as batch x117, so the two tiers cannot drift);
    *  2. reads back ONLY the shard partitions the batch touches — the
    *     touched-shard list is collected to the driver (bounded by the
    *     shard-band count, 64, the same small-constant posture as a
    *     broadcast dim) and applied as an `isin` partition filter, so
    *     the read is STATICALLY pruned to the touched `hshard=` dirs;
    *  3. rewrites exactly those shards with merged content via dynamic
    *     partition overwrite ([[graft.operators.Pipeline.writeHashShards]]).
    * Per-batch cost ∝ the batch's shard footprint, never the corpus —
    * batch x117's contract made continuous. Untouched shard files are
    * never opened, let alone rewritten (ShardStreamSpec pins
    * byte-identical untouched files across batches, and that the final
    * layout row-equals a one-shot batch export of everything streamed).
    *
    * Recovery — NO JVM state is load-bearing, so a query/driver restart
    * is safe by construction:
    *  - Seeded-ness is derived from the OUTPUT PATH (an `hshard=`
    *    partition directory exists), never from an in-memory flag. A
    *    fresh maintainer instance over an existing layout therefore
    *    takes the dynamic-overwrite merge path — the pre-fix in-memory
    *    `seeded` flag made it re-seed with a STATIC overwrite, silently
    *    truncating every previously maintained shard.
    *  - Each epoch commits to the [[Ledger]] as `out/_epochs/e=<batchId>`
    *    AFTER the shard write (so a commit is a floor, never a promise);
    *    any instance, fresh or not, skips an epoch at or below the last
    *    commit. Spark's file listing skips `_epochs` (a `_` name without
    *    `=`), so readers of `out` never see it.
    *  - Even when an epoch IS re-run (failure between the shard write
    *    and the commit, or a layout written before the ledger existed),
    *    the merge is idempotent: existing rows matching the batch's
    *    doc_ids are anti-joined out before the batch is unioned back
    *    in, so a replay rewrites the touched shards to identical
    *    content instead of double-appending. */
  final class ShardMaintainer(out: String) extends ((DataFrame, Long) => Unit) {
    private def epochs = s"$out/_epochs"

    /** The layout exists iff the output path holds ≥ 1 shard partition
      * directory — filesystem truth, valid across restarts. */
    private def layoutExists(spark: SparkSession): Boolean = {
      val p = new org.apache.hadoop.fs.Path(out)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(p) && fs.listStatus(p)
        .exists(_.getPath.getName.startsWith("hshard="))
    }

    override def apply(batch: DataFrame, batchId: Long): Unit = synchronized {
      val spark = batch.sparkSession
      if (Ledger.committed(spark, epochs, "e=").lastOption.exists(batchId <= _)) return
      if (batch.isEmpty) return
      val seeded = layoutExists(spark)
      val docs = batch.select(col("doc_id"), col("text"))
        .withColumn("hshard", expr(
          s"${graft.operators.H.s("text")} div ${graft.operators.Pipeline.HashShardW}"))
        .localCheckpoint(true) // one hash pass; reused for touched + write
      if (!seeded) {
        graft.operators.Pipeline.writeHashShards(docs, out, dynamic = false)
      } else {
        val touched = docs.select("hshard").distinct()
          .collect().map(_.getLong(0)).toSeq
        val existing = spark.read.parquet(out)
          .filter(col("hshard").isin(touched: _*))
          .select(col("doc_id"), col("text"),
            col("hshard").cast("long").as("hshard"))
        // batch wins per doc_id: replaying a re-delivered epoch finds
        // its docs already merged, removes them, re-adds them — the
        // touched shards come out identical (idempotence)
        val merged = existing
          .join(docs.select("doc_id"), Seq("doc_id"), "left_anti")
          .unionByName(docs)
        graft.operators.Pipeline.writeHashShards(merged, out, dynamic = true)
      }
      Ledger.commit(spark, epochs, "e=", batchId)
      Ledger.pruneBelow(spark, epochs, "e=", batchId)
    }
  }

  /** Continuous top-k PRIORITY SAMPLE — x120's weight-proportional
    * sample-without-replacement maintained across micro-batches.
    * Priority sampling is MERGEABLE: top-k(A ∪ B) = top-k(top-k(A) ∪
    * top-k(B)), so the maintained state is bit-equal to the batch x120
    * answer over everything streamed so far
    * (PrioritySampleStreamSpec pins the equality). The priorities are
    * [[graft.operators.Pipeline.priorityExpr]] VERBATIM — one
    * definition, both tiers.
    *
    * State is the k-row parquet under `out` — filesystem truth, so a
    * FRESH instance over an existing state resumes it (the
    * ShardMaintainer restart lesson applied from day one), and the
    * merge is idempotent by value (deterministic priorities + doc_id
    * dedup), so a re-delivered epoch converges to the same k rows.
    * State writes are VERSIONED, never overwrite-in-place: each batch
    * commits `out/v=<n>/` through the [[Ledger]] (a partial write has
    * no `_SUCCESS` and is invisible), readers take the highest committed
    * version, and older versions are pruned only AFTER the new commit —
    * a crash at any byte leaves the previous sample intact, so
    * "restart-safe by filesystem truth" holds through mid-write failures
    * too.
    * Per-batch cost: the batch's map-side TakeOrdered top-k plus a
    * 2k-row merge — the corpus is never re-read. */
  final class PrioritySampleMaintainer(k: Int, out: String)
      extends ((DataFrame, Long) => Unit) {
    /** The current k-row sample (throws until the first batch lands). */
    def current(spark: SparkSession): DataFrame = {
      val v = Ledger.committed(spark, out, "v=").lastOption.getOrElse(
        sys.error(s"PrioritySampleMaintainer: no committed state under $out"))
      spark.read.parquet(s"$out/v=$v")
    }
    override def apply(batch: DataFrame, batchId: Long): Unit = synchronized {
      if (batch.isEmpty) return
      val spark = batch.sparkSession
      val bTop = batch.select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("priority",
          org.apache.spark.sql.functions.expr(
            graft.operators.Pipeline.priorityExpr))
        .orderBy(col("priority").desc, col("doc_id")).limit(k)
      val prev = Ledger.committed(spark, out, "v=").lastOption
      val merged = prev match {
        case None => bTop
        case Some(v) => spark.read.parquet(s"$out/v=$v").unionByName(bTop)
          .dropDuplicates("doc_id") // same doc ⇒ same priority row
          .orderBy(col("priority").desc, col("doc_id")).limit(k)
      }
      // eager k-row materialization BEFORE the write — the read side of
      // the merge is the previous version, which stays on disk until
      // the new version has committed. The version counter is derived
      // from the COMMITTED versions (not batchId, which resets when a
      // stream restarts without its checkpoint), so it is monotone by
      // construction; a partial write of v=n+1 has no _SUCCESS and is
      // simply overwritten by the next attempt.
      val next = prev.fold(0L)(_ + 1)
      merged.localCheckpoint(true)
        .write.mode("overwrite").parquet(s"$out/v=$next")
      // prune superseded versions only after the new commit landed
      Ledger.pruneBelow(spark, out, "v=", next)
    }
  }

  /** x126's streaming twin: CONTINUOUS sampling-manifest maintenance —
    * each micro-batch of arriving documents is admission-checked
    * against the growing d37 index, scored against the MERGED quantile
    * state (history cells + every batch seen so far), and its manifest
    * rows committed under `root/manifest/epoch=<batchId>`. The three
    * state pieces and their disciplines:
    *  - admission index (sets/bands/hot): [[graft.operators.Dedup.incrementalAdmit]];
    *    each epoch's batch sets/bands are committed as their own
    *    `e=<batchId>` dirs beside the standing corpus index;
    *  - (source, cell) histogram: mergeable counts
    *    ([[graft.operators.Pipeline.mergeCellState]] — x100's partial
    *    discipline), committed per epoch as a full snapshot (the cell
    *    domain is value-bounded, so a snapshot is cells-sized);
    *  - manifest rows: [[graft.operators.Pipeline.manifestRows]]
    *    VERBATIM — one scoring definition for both tiers.
    * CONTRACT: a batch's rows carry the quantile state AS OF its
    * admission (a later batch shifts quantiles for later docs only —
    * the manifest is an append-only per-epoch ledger; x110's drift
    * audit decides when a full x124/x126 re-derivation is due). A
    * single batch containing everything x126 calls "the batch"
    * therefore produces EXACTLY x126's rows (ManifestStreamSpec pins
    * this, plus the multi-batch as-of-state semantics against an
    * independent in-test oracle).
    *
    * Restart safety by FILESYSTEM TRUTH (the ShardMaintainer/
    * PrioritySample discipline): NO JVM state is load-bearing — the
    * applied-epoch watermark is the highest epoch whose MANIFEST dir
    * committed (the epoch's LAST write, so it is a floor, never a
    * promise); admission state is the standing corpus index plus every
    * committed PRIOR epoch's appends; the quantile predecessor is the
    * highest committed cells snapshot below the epoch, so a crashed
    * attempt can never double-merge a batch (it recomputes from the
    * predecessor and overwrites its own torn dirs — every per-epoch
    * write is an idempotent overwrite with its own _SUCCESS, and
    * superseded snapshots are pruned only AFTER the epoch commits).
    * A fresh instance over the same `root` resumes exactly; epochs must
    * be monotone (Structured Streaming's checkpointed batchIds — the
    * ShardMaintainer contract). Per-batch cost ∝ batch size + committed
    * index appends + cell domain — the corpus is never rescanned;
    * long-running streams compact the `e=` append dirs periodically
    * (x105's posture). */
  final class ManifestMaintainer(
      corpusSets: DataFrame, corpusBands: DataFrame, hotDf: DataFrame,
      initialCells: DataFrame, root: String) extends ((DataFrame, Long) => Unit) {

    /** The manifest ledger (epoch=<n>-partitioned parquet). */
    def manifestPath: String = s"$root/manifest"

    override def apply(batch: DataFrame, batchId: Long): Unit = synchronized {
      val spark = batch.sparkSession
      // applied-epoch watermark: the last committed manifest epoch
      if (Ledger.committed(spark, manifestPath, "epoch=").lastOption
          .exists(batchId <= _)) return // committed epoch: skip
      // admission state = standing corpus index + committed PRIOR
      // epochs' appends (this epoch's own torn dirs from a crashed
      // attempt are excluded by the < filter and overwritten below)
      def prior(name: String): Seq[Long] =
        Ledger.committed(spark, s"$root/$name", "e=").filter(_ < batchId)
      def appends(name: String): Option[DataFrame] = {
        val es = prior(name)
        if (es.isEmpty) None
        else Some(spark.read.parquet(
          es.map(e => s"$root/$name/e=$e"): _*))
      }
      val sets = appends("sets").fold(corpusSets)(corpusSets.unionByName(_))
      val bands = appends("bands").fold(corpusBands)(corpusBands.unionByName(_))
      val (verdicts, bsets, bbands) = graft.operators.Dedup.incrementalAdmit(
        batch.select("doc_id", "text"), sets, bands, hotDf)
      // quantile predecessor: highest committed snapshot BELOW this
      // epoch — replay recomputes from it, never double-merges
      val prevCells = prior("cells").lastOption
        .map(e => spark.read.parquet(s"$root/cells/e=$e"))
        .getOrElse(initialCells)
      val cells = graft.operators.Pipeline.mergeCellState(prevCells, batch)
        .ckptRound
      // per-epoch idempotent overwrites, each with its own _SUCCESS;
      // the MANIFEST write commits the epoch, so it goes LAST
      cells.write.mode("overwrite").parquet(s"$root/cells/e=$batchId")
      bsets.write.mode("overwrite").parquet(s"$root/sets/e=$batchId")
      bbands.write.mode("overwrite").parquet(s"$root/bands/e=$batchId")
      graft.operators.Pipeline.manifestRows(batch, verdicts, cells)
        .write.mode("overwrite").parquet(s"$manifestPath/epoch=$batchId")
      bsets.unpersist()
      bbands.unpersist()
      // prune superseded cell snapshots only after this epoch committed
      Ledger.pruneBelow(spark, s"$root/cells", "e=", batchId)
    }
  }

  /** d47's streaming twin: CONTINUOUS boilerplate-line maintenance —
    * the line-df model is mergeable distinct-doc counts (each document
    * arrives once, the ingestion premise, so per-batch counts SUM),
    * maintained across micro-batches; every arriving batch is
    * rewritten against the model AS OF its admission and appended to
    * `out` (the same ledger contract as [[ManifestMaintainer]]: a line
    * that only later crosses the boilerplate threshold is not
    * retroactively removed from already-exported docs — x110's drift
    * audit owns the full-re-derivation decision). Kernels are d47's
    * VERBATIM ([[graft.operators.Dedup.lineOccurrences]]/[[graft.operators.Dedup.lineDf]]/
    * [[graft.operators.Dedup.rewriteLines]]); LineDedupStreamSpec pins
    * single-batch-from-empty == batch d47 exactly, plus the multi-batch
    * as-of semantics against an independent in-test oracle. Per-batch
    * cost ∝ batch lines + the df-state merge (hashed count cells).
    *
    * Restart safety by FILESYSTEM TRUTH ([[ManifestMaintainer]]'s
    * discipline, same layout): the applied-epoch watermark is the
    * highest epoch whose OUTPUT dir committed (the epoch's last write);
    * the df model's predecessor is the highest committed snapshot below
    * the epoch, so a crashed attempt recomputes from it and overwrites
    * its own torn dirs instead of double-merging; snapshots prune only
    * after the epoch commits. Fresh instances over the same `root`
    * resume exactly; epochs must be monotone (checkpointed batchIds). */
  final class LineDedupMaintainer(initialDf: DataFrame, root: String)
      extends ((DataFrame, Long) => Unit) {

    /** The rewritten-batch ledger (epoch=<n>-partitioned parquet). */
    def outPath: String = s"$root/out"

    override def apply(batch: DataFrame, batchId: Long): Unit = synchronized {
      val spark = batch.sparkSession
      if (Ledger.committed(spark, outPath, "epoch=").lastOption
          .exists(batchId <= _)) return // committed epoch: skip
      val lines = graft.operators.Dedup
        .lineOccurrences(batch.select("doc_id", "text")).cache()
      val prevDf = Ledger.committed(spark, s"$root/df", "e=")
        .filter(_ < batchId).lastOption
        .map(e => spark.read.parquet(s"$root/df/e=$e"))
        .getOrElse(initialDf)
      val merged = prevDf.unionByName(graft.operators.Dedup.lineDf(lines))
        .groupBy("h").agg(org.apache.spark.sql.functions.sum(col("df")).as("df"))
        .ckptRound
      merged.write.mode("overwrite").parquet(s"$root/df/e=$batchId")
      val boiler = merged
        .filter(col("df") > graft.operators.Dedup.LineDfMax).select("h")
      // the OUTPUT write commits the epoch — last
      graft.operators.Dedup.rewriteLines(lines, boiler)
        .write.mode("overwrite").parquet(s"$outPath/epoch=$batchId")
      lines.unpersist()
      Ledger.pruneBelow(spark, s"$root/df", "e=", batchId)
    }
  }

  /** t41's streaming twin: the count-min sketch maintained INCREMENTALLY
    * — each micro-batch's token frame becomes its own cell table
    * ([[graft.operators.TextOps.cmsCells]], the shared kernel) and merges
    * into the running sketch by cell summation, which is the CMS
    * mergeability contract made operational: the accumulated sketch
    * after any number of micro-batches is bit-identical to one batch
    * build over everything seen (StreamingSpec pins it). Per-round
    * `localCheckpoint` is the README rule (the merge plan would
    * otherwise deepen every batch); state is the ≤ d·w cell table,
    * CONSTANT-size however much traffic flows through — the whole point
    * of sketching an unbounded stream.
    *
    * Recovery: `foreachBatch` is at-least-once, so a micro-batch
    * re-delivered after a failure/restart would double-merge its cells
    * and break the bit-identical contract — the accumulator therefore
    * tracks the last applied batchId and SKIPS duplicates (Spark
    * re-executes a failed epoch under the SAME batchId, which is the
    * exactly-once-via-idempotence recipe the Structured Streaming guide
    * prescribes for foreachBatch sinks). Batches must still arrive in
    * order, which the single-query single-sink topology guarantees. */
  final class CmsAccumulator(d: Int, wBuckets: Int)
      extends ((DataFrame, Long) => Unit) {
    @volatile private var cells: DataFrame = null
    private var lastBatchId: Long = -1L
    /** The running sketch (null until the first batch). */
    def current: DataFrame = cells
    override def apply(batch: DataFrame, batchId: Long): Unit = synchronized {
      if (batchId <= lastBatchId) return // re-delivered epoch: already merged
      val bc = graft.operators.TextOps.cmsCells(batch, d, wBuckets)
      cells =
        if (cells == null) bc.ckptRound
        else cells.unionByName(bc).groupBy("d", "b")
          .agg(org.apache.spark.sql.functions.sum(col("c")).as("c"))
          .ckptRound
      lastBatchId = batchId
    }
  }
}
