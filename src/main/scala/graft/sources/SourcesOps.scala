package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Source/sink coverage (SURVEY.md §2.1):
  *
  *  - S2 dimension bulk load — line file → (id = line number, key), the
  *    reference's `LogGenerator.java:98-124` CSV→CRUD-proc load;
  *  - S4/S6 columnar at-rest store — partitioned sink + scan-back with
  *    partition pruning (the Avro→Pig→Parquet hop collapses into one
  *    `write.partitionBy`, SURVEY S6);
  *  - ORC/CSV/JSON round trips — alternate formats through the same
  *    DataFrame contract.
  *
  * Round-trip queries write to a temp dir and read back through the
  * real datasource — the sink IS the thing under test; aggregates over
  * the scan-back are oracle-checked against the original table.
  */
object SourcesOps {
  type Q = (SparkSession, String) => DataFrame

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** What a maintenance pass did: `healed` = crash leftovers repaired
    * (trash dirs restored/merged/discarded — the LIVE FILE SET may have
    * changed even when nothing was rewritten, so callers holding
    * listing caches must invalidate on `healed > 0 || rewritten.nonEmpty`,
    * not on `rewritten.nonEmpty` alone). */
  case class CompactReport(healed: Int, rewritten: Seq[(String, Int, Int)]) {
    def changedLiveFiles: Boolean = healed > 0 || rewritten.nonEmpty
  }

  /** Name of the per-swap manifest compaction writes into the live dir
    * immediately before the first rename (so it travels into the trash
    * dir): the exact parquet `name:length` pairs of the compacted
    * output. The self-heal uses it as a SOUND discriminator — the trash
    * is a duplicate only when the live dir contains exactly those files
    * AT those lengths (i.e. the second rename landed whole); any other
    * live content means some
    * append recreated the dir post-crash and the trash rows must be
    * merged back. (A mere "live has a non-batch file" heuristic is
    * unsound: a plain `mode("append")` write also creates `part-*`
    * files, indistinguishable from a compacted output by name shape.)
    * Underscore-prefixed: Spark's file index ignores it. */
  private val CompactManifest = "_COMPACT_MANIFEST"

  /** Streaming byte-equality of two equal-length files — the
    * checksum fallback for filesystems that return null checksums
    * (raw-local). Called only on the heal's equal-length name-collision
    * branch, which an interrupted copy+delete makes "same immutable
    * file on both sides" in all but the distinct-jobs-collision case —
    * so this runs rarely and on one file's bytes, never per partition. */
  private def sameBytes(a: org.apache.hadoop.fs.Path,
                        b: org.apache.hadoop.fs.Path): Boolean = {
    val ina = Dfs.fs(a).open(a)
    val inb = Dfs.fs(b).open(b)
    try {
      val bufA = new Array[Byte](65536)
      val bufB = new Array[Byte](65536)
      def fill(in: java.io.InputStream, buf: Array[Byte]): Int = {
        var off = 0
        var n = in.read(buf, 0, buf.length)
        while (n > 0) { off += n; n = in.read(buf, off, buf.length - off) }
        off
      }
      var same = true
      var done = false
      while (same && !done) {
        val na = fill(ina, bufA)
        val nb = fill(inb, bufB)
        if (na != nb || !java.util.Arrays.equals(
            bufA, 0, na, bufB, 0, nb)) same = false
        else if (na == 0) done = true
      }
      same
    } finally { ina.close(); inb.close() }
  }

  /** S2: deterministic dimension ids — id = position in key order (the
    * reference's "line number" with a sorted input file). */
  def dimFromKeys(keys: DataFrame): DataFrame = {
    val w = Window.orderBy("key")
    keys.distinct()
      .withColumn("id", (row_number().over(w) - 1).cast("long"))
      .select("id", "key")
  }

  /** Small-file compaction for a hive-partitioned parquet sink: each
    * `col=value` partition directory is rewritten to `numFiles` files
    * via a temp-dir + atomic-rename swap (crash leaves the old or the
    * new partition fully live, mirroring VersionedStore's contract).
    * Returns (partition, filesBefore, filesAfter).
    *
    * Scale note: streaming micro-batch sinks accrete one file per
    * (trigger × partition); at 100 TB the read-side cost is file-open
    * overhead and non-contiguous scans, so compaction runs as a
    * periodic maintenance pass per partition — O(partition data), and
    * partitions compact independently (embarrassingly parallel across
    * a cluster).
    *
    * `minFilesToCompact` is the maintenance trigger: partitions below
    * the threshold are left untouched (and unreported), so a periodic
    * pass only pays rewrite I/O where fragmentation actually built up. */
  def compactPartitions(spark: SparkSession, sinkDir: String,
                        numFiles: Int = 1,
                        minFilesToCompact: Int = 0): Seq[(String, Int, Int)] =
    compactPartitionsReport(spark, sinkDir, numFiles, minFilesToCompact).rewritten

  /** As [[compactPartitions]] but also reports whether the self-heal
    * pass changed the live file set (see [[CompactReport]]). All
    * filesystem metadata goes through the Hadoop `FileSystem` of the
    * sink's scheme ([[Dfs]]) so the protocol runs identically whether
    * the sink is local disk, `file://`, or HDFS — the 100 TB deployment
    * shape, where the sink is never the driver's POSIX disk. */
  def compactPartitionsReport(spark: SparkSession, sinkDir: String,
                              numFiles: Int = 1,
                              minFilesToCompact: Int = 0): CompactReport = {
    val root = Dfs.path(sinkDir)
    def dataFileEntries(dir: org.apache.hadoop.fs.Path): Seq[(String, Long)] =
      Dfs.list(dir).filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(s => (s.getPath.getName, s.getLen))
    def dataFiles(dir: org.apache.hadoop.fs.Path): Seq[String] =
      dataFileEntries(dir).map(_._1)
    // SELF-HEAL FIRST, driven by the TRASH dirs — not by the live
    // partition listing: after a crash between the swap's two renames
    // the live dir is ABSENT, so a heal keyed off existing live dirs
    // would never see that partition and its only copy would rot in
    // the hidden trash forever. Three states, all repaired:
    //  - live absent -> restore trash to live (atomic);
    //  - live holds EXACTLY the compacted output the trash's manifest
    //    names -> the swap completed and the trash is a duplicate: drop;
    //  - anything else -> some append (batch-keyed b*.parquet OR a
    //    plain part-* append — the manifest makes the two
    //    distinguishable from a compacted output, a name-shape
    //    heuristic does not) recreated the dir post-crash — OR a
    //    copy+delete rename-2 crashed mid-copy, leaving a partial
    //    compacted output in live; the trash holds the only complete
    //    copy of the pre-crash rows: drop any live file the manifest
    //    names (dead partial output), merge the trash files in, then
    //    drop the trash. Name collisions on merge resolve by which
    //    side can be a truncated partial copy (shorter side loses;
    //    see the merge loop), equal-length b<id>.parquet is the same
    //    batch's deterministic replay (skip), and equal-length part-*
    //    splits on filesystem checksums when available.
    var healed = 0
    Dfs.list(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".compact_trash_"))
      .foreach { trashStatus =>
        val trash = trashStatus.getPath
        val live = new org.apache.hadoop.fs.Path(
          root, trash.getName.stripPrefix(".compact_trash_"))
        if (!Dfs.exists(live)) {
          Dfs.rename(trash, live); healed += 1
          // the restore carries the aborted pass's manifest back into
          // live; its named output is dead (tmp is vacuumed below), so
          // drop it rather than leave a stale discriminator around
          Dfs.delete(new org.apache.hadoop.fs.Path(live, CompactManifest))
        } else {
          val liveEntries = dataFileEntries(live).toMap
          val manifest = new org.apache.hadoop.fs.Path(trash, CompactManifest)
          // manifest lines are `name:length` — presence alone is NOT a
          // sound completed-swap signal on copy+delete stores: a
          // rename-2 crashing mid-copy of the name-ordered LAST
          // compacted file leaves every manifest name present in live
          // with that one truncated. Classified "completed", the trash
          // (only complete copy of the rows) would be deleted — data
          // loss plus a footerless parquet file failing every later
          // read. Requiring the exact length routes that state to the
          // merge branch below, which already replaces shorter live
          // copies. (Length-less lines = pre-length manifests: presence
          // check only, the best that format allows.)
          val expectEntries =
            if (Dfs.exists(manifest))
              Some(Dfs.readString(manifest).split("\n").filter(_.nonEmpty).toSeq.map { line =>
                val cut = line.lastIndexOf(':')
                if (cut > 0 && cut < line.length - 1 &&
                    line.substring(cut + 1).forall(_.isDigit))
                  (line.substring(0, cut), Some(line.substring(cut + 1).toLong))
                else (line, None)
              })
            else None
          val swapCompleted = expectEntries match {
            case Some(entries) => entries.forall { case (n, lenOpt) =>
              liveEntries.get(n).exists(l => lenOpt.forall(_ == l)) }
            // pre-manifest trash (only reachable by hand-built crash
            // states now): fall back to the old name-shape heuristic
            case None => liveEntries.keySet.exists(!_.matches("b\\d+\\.parquet"))
          }
          if (swapCompleted) Dfs.delete(trash)
          else {
            // copy+delete stores can also crash mid-SECOND-rename
            // (tmp→live): live then holds a PARTIAL compacted output —
            // a strict subset of the manifest's names, or all of them
            // with the last truncated (the length check above routes
            // that here) — whose rows the trash's originals wholly
            // contain. Delete those dead
            // partials BEFORE merging, or the merge would land the
            // originals alongside them and duplicate every compacted
            // row (and the tmp vacuum below would then cement it by
            // deleting the rest of the compacted output).
            expectEntries.foreach(_.foreach { case (n, _) =>
              Dfs.delete(new org.apache.hadoop.fs.Path(live, n))
            })
            Dfs.list(trash)
              .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
              .foreach { f =>
                val name = f.getPath.getName
                val dst = new org.apache.hadoop.fs.Path(live, name)
                if (!Dfs.exists(dst)) Dfs.rename(f.getPath, dst)
                else {
                  // name collision. On POSIX rename this state is
                  // unreachable (atomic: never both sides), but a
                  // copy+delete rename (object stores) crashing mid-
                  // copy leaves the DESTINATION side truncated, and
                  // crashing between copy and delete leaves identical
                  // files on both sides. Resolve by which side can be
                  // a partial copy — never heal a truncated file in
                  // as data (a footerless parquet file breaks every
                  // subsequent read of the partition):
                  val liveLen = Dfs.fs(dst).getFileStatus(dst).getLen
                  if (f.getLen > liveLen)
                    // live is shorter = live is the suspect truncated
                    // copy (a crashed copy INTO live — e.g. this very
                    // merge re-run after its own mid-copy crash):
                    // replace it with the trash's complete bytes
                    Dfs.renameOverwrite(f.getPath, dst)
                  else if (f.getLen < liveLen) {
                    // trash is shorter = trash is the truncated copy
                    // (rename-1 crashed mid-file): drop it with the
                    // trash dir; live's complete copy is authoritative
                  } else if (name.matches("b\\d+\\.parquet")) {
                    // equal length, batch-keyed: the same batch's
                    // deterministic replay already live — skip
                  } else {
                    // equal length, part-*: the same immutable file on
                    // both sides of an interrupted copy+delete — skip,
                    // UNLESS the contents differ (a true distinct-jobs
                    // collision, part-* UUIDs make it effectively
                    // never): keep both, disambiguated. Checksums
                    // decide where the filesystem provides them (HDFS);
                    // raw-local returns null, so there a streaming
                    // byte-compare decides — the cost is two reads of
                    // ONE file on a branch that is already a rare
                    // collision, never a per-partition tax.
                    val cs = Option(Dfs.fs(dst).getFileChecksum(dst))
                    val ct = Option(Dfs.fs(f.getPath).getFileChecksum(f.getPath))
                    val distinct = (for (a <- cs; b <- ct) yield !a.equals(b))
                      .getOrElse(!sameBytes(f.getPath, dst))
                    if (distinct)
                      Dfs.rename(f.getPath,
                        new org.apache.hadoop.fs.Path(live, s"healed_$name"))
                  }
                }
              }
            Dfs.delete(trash)
            // the live dir may still hold the aborted pass's manifest
            // (it names a dead output) — drop it, as the restore
            // branch does
            Dfs.delete(new org.apache.hadoop.fs.Path(live, CompactManifest))
            healed += 1
          }
        }
      }
    // vacuum tmp outputs from a crashed pass (single-maintainer
    // contract, same as the trash heal — nothing else writes
    // .compact_tmp_*): a recompaction of the same partition would
    // overwrite its tmp anyway, but a partition that stays under the
    // trigger after a heal-restore would otherwise carry its dead tmp
    // dir forever. Invisible to readers (hidden prefix), so this does
    // not count toward `healed`/cache invalidation.
    Dfs.list(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".compact_tmp_"))
      .foreach(s => Dfs.delete(s.getPath))
    val parts = Dfs.list(root)
      // hidden dirs (.compact_tmp_*/.compact_trash_* from a crashed
      // pass, .staging_* from index appends) are maintenance state,
      // not partitions — without this exclusion a leftover trash dir
      // would itself be "compacted"
      .filter(s => s.isDirectory && s.getPath.getName.contains("=") &&
        !s.getPath.getName.startsWith(".") && !s.getPath.getName.startsWith("_"))
    // Partitions compact independently in principle, but the pass runs
    // them SEQUENTIALLY on purpose: the crash/heal proofs
    // (MockObjectStoreSpec's injected-crash shapes) reason about a
    // single-maintainer pass where a crash stops the WHOLE pass — a
    // parallel variant measured ~1.6× faster at sf0.1 but leaks
    // in-flight sibling swaps past the crash point (a crashed pass no
    // longer leaves "a prefix of partitions swapped", and the caller's
    // recovery runs while a leaked thread is still renaming). At
    // cluster scale the parallelism belongs ACROSS maintenance jobs
    // (one compactor per table/partition-range), not inside one pass's
    // crash unit.
    def compactOne(ps: org.apache.hadoop.fs.FileStatus): Option[(String, Int, Int)] = {
      val p = ps.getPath
      val before = dataFiles(p).length
      if (before < minFilesToCompact) None
      else {
        val trashDir = new org.apache.hadoop.fs.Path(root, s".compact_trash_${p.getName}")
        val tmpDir = new org.apache.hadoop.fs.Path(root, s".compact_tmp_${p.getName}")
        spark.read.parquet(p.toString)
          .repartition(numFiles)
          .write.mode("overwrite").parquet(tmpDir.toString)
        // drop the _SUCCESS marker; the partition dir holds data files only
        Dfs.delete(new org.apache.hadoop.fs.Path(tmpDir, "_SUCCESS"))
        // record the compacted output's exact names AND lengths in the
        // LIVE dir so the first rename carries them into the trash —
        // the self-heal discriminator above (length included so a
        // truncated copy of a manifest-named file can never pass as a
        // completed swap)
        Dfs.writeStringAtomic(new org.apache.hadoop.fs.Path(p, CompactManifest),
          dataFileEntries(tmpDir).map { case (n, l) => s"$n:$l" }.mkString("\n"))
        // swap by TWO ATOMIC RENAMES, never a delete of live data: at
        // every instant the partition's rows exist in exactly one
        // complete directory (live, trash, or tmp), so a crash anywhere
        // in this sequence is repaired by the self-heal above on the
        // next invocation. A reader listing in the two-rename gap can
        // transiently miss the partition — [[readConsistent]] closes
        // that window on the read side by verifying its listing against
        // the live∪trash partition set (invariant through the swap).
        Dfs.rename(p, trashDir)
        Dfs.rename(tmpDir, p)
        Dfs.delete(trashDir)
        Some((p.getName, before, dataFiles(p).length))
      }
    }
    val rewritten = parts.flatMap(compactOne)
    CompactReport(healed, rewritten)
  }

  /** File-not-found anywhere in a cause chain — the LOUD shape a
    * compaction swap gives an in-flight read (a footer or data file
    * renamed away mid-read). Message grep included for error-class
    * wrappers that carry the FNF only in rendered text, and for the
    * second vanished-mid-listing shape: a dir renamed away between the
    * root listing and its own child listing surfaces as Hadoop
    * `FileUtil.list`'s bare `IOException("Invalid directory or I/O
    * error occurred for dir: …")`, NOT an FNF (`File.list()` returns
    * null for missing and unreadable dirs alike). Shared with
    * `CompactProbeRaceSpec` so the production retry and the spec's
    * retry classification can never drift apart. A false positive
    * costs at most one bounded retry budget, never a wrong result. */
  private[sources] def isFnf(t: Throwable): Boolean = t != null &&
    (t.isInstanceOf[java.io.FileNotFoundException] ||
      Option(t.getMessage).exists(m => m.contains("FileNotFound") ||
        m.contains("Invalid directory or I/O error occurred")) ||
      isFnf(t.getCause))

  /** Read a partitioned directory WITHOUT the compaction-swap races:
    * a plain `spark.read.parquet` that lists the root while a partition
    * is between [[compactPartitionsReport]]'s two renames silently
    * misses that partition — an under-retrieval with no error. The
    * partition SET is invariant through a swap (every instant, each
    * partition's rows live in exactly one of its live dir or its trash
    * dir), so this read verifies its listing against
    * `live-dirs ∪ trash-suffixes` and relists until no verified
    * partition is missing (bounded wait — a mid-swap gap is two rename
    * syscalls). A partition missing from the listing whose live dir is
    * EMPTY and has no trash is genuinely empty, not racing. If the
    * inconsistency persists past the budget (a crashed compactor's
    * leftover trash — repair is the next maintenance pass's job, a
    * reader never mutates the store), the read fails with a
    * FileNotFoundException naming the racing partitions — the loud,
    * retryable shape [[isFnf]] recognises — rather than serve a listing
    * it knows is short. */
  def readConsistent(spark: SparkSession, dir: String,
                     maxWaitMs: Long = 2000): DataFrame = {
    val root = Dfs.path(dir)
    val qualRoot = Dfs.qualify(dir)
    val deadline = System.nanoTime() + maxWaitMs * 1000000L
    var df: DataFrame = null
    var racing = Set.empty[String]
    var done = false
    while (!done) try {
      val listing = Dfs.list(root)
      val liveParts = listing.filter(s => s.isDirectory &&
        s.getPath.getName.contains("=") && !s.getPath.getName.startsWith(".") &&
        !s.getPath.getName.startsWith("_")).map(_.getPath.getName).toSet
      val trashParts = listing.filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(".compact_trash_"))
        .map(_.getPath.getName.stripPrefix(".compact_trash_")).toSet
      df = spark.read.parquet(dir)
      // qualified like the root: inputFiles spells a local file
      // `file:///…` where the root qualifies to `file:/…`
      val seen = df.inputFiles.iterator.map(Dfs.qualify).flatMap { f =>
        if (f.startsWith(qualRoot + "/")) {
          val rel = f.substring(qualRoot.length + 1)
          val cut = rel.indexOf('/')
          val head = if (cut < 0) rel else rel.substring(0, cut)
          if (head.contains("=")) Iterator.single(head) else Iterator.empty
        } else Iterator.empty
      }.toSet
      // FRESH per-name checks, not the t0 snapshots: a swap that began
      // AFTER the root listing above is invisible to trashParts, and
      // mid-gap its live dir lists empty — consulting the stale set
      // would classify the partition "genuinely empty" and re-open the
      // silent short-count this read exists to close. Freshly checking
      // trash catches mid-gap; freshly listing live catches both
      // pre-rename1 and post-rename2 states.
      racing = ((liveParts ++ trashParts) -- seen).filter { name =>
        Dfs.exists(new org.apache.hadoop.fs.Path(root, s".compact_trash_$name")) ||
          Dfs.list(new org.apache.hadoop.fs.Path(root, name))
            .exists(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      }
      if (racing.isEmpty || System.nanoTime() > deadline) done = true
      else Thread.sleep(10)
    } catch {
      // a swap can also fail the read LOUDLY (schema-inference footer
      // renamed away mid-read) — retry that shape under the same budget
      case t: Throwable if isFnf(t) && System.nanoTime() <= deadline =>
        Thread.sleep(10)
    }
    if (racing.nonEmpty)
      throw new java.io.FileNotFoundException(
        s"$dir: partitions ${racing.toSeq.sorted.mkString(", ")} still missing from " +
          s"the listing after $maxWaitMs ms (compaction swap in flight, or a " +
          "crashed swap's trash awaiting the next compactPartitions)")
    df
  }

  val queries: Map[String, Q] = Map(
    // sink maintenance — fragment the partitioned sink into many small
    // files (a streaming sink's natural state), compact each partition
    // to one file in place, and prove the scan-back is unchanged
    // (oracle = the same aggregate straight off the source table)
    "compact_roundtrip" -> ((s, d) => {
      val dir = tmp("graft_compact")
      Tables.events(s, d).repartition(40)
        .write.mode("overwrite").partitionBy("event_type").parquet(dir)
      compactPartitions(s, dir, numFiles = 1)
      s.read.parquet(dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
            .cast("double").as("value_sum"))
        .orderBy("event_type")
    }),
    // S2 — dim load via a real CSV round trip: distinct keys → csv file
    // → read back → line-number ids
    "dim_load_csv" -> ((s, d) => {
      val dir = tmp("graft_dim")
      Tables.events(s, d).select(col("event_type").as("key")).distinct()
        .coalesce(1).sort("key")
        .write.mode("overwrite").option("header", "true").csv(dir)
      val back = s.read.option("header", "true").csv(dir)
      dimFromKeys(back).orderBy("id")
    }),

    // S4/S6 — partitioned parquet sink: write events partitioned by
    // event_type, scan back, per-partition counts. The scan-back prunes
    // partitions for type-filtered queries (spec-checked).
    "partitioned_sink_roundtrip" -> ((s, d) => {
      val dir = tmp("graft_sink")
      Tables.events(s, d)
        .write.mode("overwrite").partitionBy("event_type").parquet(dir)
      s.read.parquet(dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
            .cast("double").as("value_sum"))
        .orderBy("event_type")
    }),

    // ORC round trip
    "orc_roundtrip" -> ((s, d) => {
      val dir = tmp("graft_orc")
      Tables.lineitem(s, d).select("l_orderkey", "l_quantity", "l_returnflag")
        .write.mode("overwrite").orc(dir)
      s.read.orc(dir)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
            .cast("double").as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // S6 — REAL Avro round trip (the reference's export format,
    // deployment-hadoop.xml.template:5-10 / harvest.pig:25): standard
    // Avro object-container files written and re-read with the Avro
    // Java API ([[AvroIO]] — no spark-avro datasource in the sandbox,
    // but avro itself ships on Spark's classpath). The oracle reads the
    // SOURCE table, so a hash match proves the full encode→container→
    // decode trip preserves longs, strings, doubles, and µs timestamps.
    "avro_roundtrip" -> ((s, d) => {
      val dir = tmp("graft_avro")
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
        .filter(col("o_orderkey") % 100 === 0)
      AvroIO.write(src, dir)
      AvroIO.read(s, dir, src.schema)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("o_date_str"))
        .orderBy("o_orderkey")
    }),

    // CSV round trip (the reference's dimension-load wire format, S2) —
    // full documents table incl. free text through the quoting/escape
    // path; the oracle reads the SOURCE table, so a hash match proves
    // header+quote+parse round-trips every row byte-identically
    "csv_roundtrip" -> ((s, d) => {
      val dir = tmp("graft_csv")
      Tables.documents(s, d)
        .write.mode("overwrite").option("header", "true").csv(dir)
      s.read.option("header", "true")
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .csv(dir)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // JSON round trip (the HTTP API's wire format, S10)
    "json_roundtrip" -> ((s, d) => {
      val dir = tmp("graft_json")
      Tables.nation(s, d).write.mode("overwrite").json(dir)
      s.read.json(dir)
        .select(col("n_nationkey").cast("int").as("n_nationkey"),
          col("n_name"), col("n_regionkey").cast("int").as("n_regionkey"))
        .orderBy("n_nationkey")
    })
  )

  val oracles: Map[String, String] = Map(
    "dim_load_csv" ->
      """SELECT row_number() OVER (ORDER BY key) - 1 AS id, key
        |FROM (SELECT DISTINCT event_type AS key FROM events)
        |ORDER BY id""".stripMargin,

    "partitioned_sink_roundtrip" ->
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // compaction must be invisible to readers: same aggregate as the
    // uncompacted sink, straight off the source table
    "compact_roundtrip" ->
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "orc_roundtrip" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "csv_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,

    "json_roundtrip" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin,

    "avro_roundtrip" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_date_str
        |FROM orders WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey""".stripMargin
  )
}
