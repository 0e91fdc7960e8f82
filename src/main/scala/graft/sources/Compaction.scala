package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Small-file compaction for graft tables — the OPTIMIZE analog. Append
  * and streaming workloads accrete many small part files (one per task per
  * epoch); at 100 TB that multiplies scan planning, open costs, and
  * shuffle-read fan-in. Compaction rewrites each partition's small files
  * into consolidated ones and swaps them in:
  *
  *  1. pick, per partition directory, the LIVE files below `smallBytes`
  *     (only when there are at least two — compacting one file is a no-op).
  *     Victims come from the stats manifest, never a directory listing:
  *     commits delete metadata-only (COW, truncate, compaction swap keep
  *     data files for time travel), so the directory also holds files that
  *     were deliberately removed from the manifest — rewriting those would
  *     resurrect deleted rows;
  *  2. one distributed job reads those files (null-filling columns added
  *     since they were written) and writes consolidated files through the
  *     normal partitioned write path;
  *  3. swap, under the table lock: re-point the manifest from the originals
  *     to the replacements. If a concurrent commit removed one of the
  *     victims from the manifest meanwhile (COW delete, another
  *     compaction), the swap ABORTS and deletes its own output — never
  *     re-registers rows another committer just deleted. Readers between
  *     steps 2 and 3 see the live manifest unchanged; a crash before
  *     step 3 leaves only unregistered extra files that vacuum reclaims.
  *
  * Caveat: a live `readStream` over the table tracks files by name, so
  * compacting rows it already delivered re-delivers them under the new
  * file names — compact streaming-source tables only between consumer
  * restarts (or with downstream dedup), like any file-rewriting optimizer.
  */
object Compaction {

  /** Compact, optionally CLUSTERING the rewritten rows:
    *
    *  - `sortBy`: range-repartition + within-partition sort makes the
    *    consolidated files' registered [min, max] ranges disjoint on the
    *    sort key, so file-level range skipping prunes point/range queries
    *    to one file — the OPTIMIZE ... SORT analog;
    *  - `zorderBy`: MULTI-dimensional clustering — each column is scaled
    *    to a 16-bit lane between its min and max over the rewrite set
    *    (one tiny aggregate, no global windows), the lanes' bits are
    *    interleaved into a single Z-value, and files are cut along that
    *    curve. Points close on the curve are close in EVERY clustered
    *    dimension, so each output file spans a narrow [min, max] on ALL
    *    the columns at once and range skipping prunes filters on any of
    *    them — the OPTIMIZE ... ZORDER analog. (A total sort can only
    *    serve its leading column; at 100 TB the second predicate would
    *    otherwise read the whole table.)
    *
    * One extra shuffle either way, only over the small files being
    * rewritten.
    *
    * @return (filesBefore, filesAfter) across the compacted partitions */
  def compact(
      spark: SparkSession,
      table: GraftTable,
      smallBytes: Long = 32L * 1024 * 1024,
      sortBy: Seq[String] = Nil,
      outputFiles: Int = 0,
      zorderBy: Seq[String] = Nil,
      partitionFilter: Seq[org.apache.spark.sql.sources.Filter] = Nil): (Int, Int) = {
    require(sortBy.isEmpty || zorderBy.isEmpty,
      "graft: sortBy and zorderBy are mutually exclusive")
    // partition-scoped OPTIMIZE (`OPTIMIZE t WHERE day = ...`): only
    // files in identity partitions the filter provably selects are
    // touched — at 100 TB you compact yesterday's partition, not the
    // table. Filters must be decidable over identity partition columns
    // (same contract as metadata-only partition DELETE); old-spec files
    // have no reconstructable partition value and are left for an
    // unscoped run. Outstanding equality deletes stay registered unless
    // every file they touch was rewritten (the unscoped bookkeeping
    // below already guarantees exactly that).
    if (partitionFilter.nonEmpty) {
      val identCols = table.partitionSpecs.map(PartField.parse).collect {
        case PartField.Identity(c) => c
      }.toSet
      val refs = partitionFilter.flatMap(_.references)
      require(refs.nonEmpty && refs.forall(identCols.contains),
        s"graft: OPTIMIZE ... WHERE must be decidable over identity " +
          s"partition columns ${identCols.mkString("{", ", ", "}")}; got " +
          partitionFilter.mkString(", "))
    }
    val conf = new Configuration()
    val dataDir = new Path(table.dataDir)
    val fs = dataDir.getFileSystem(conf)
    if (!fs.exists(dataDir)) return (0, 0)

    // group LIVE data files by their partition directory — the manifest is
    // the file list (unregistered on-disk files are deleted rows kept for
    // time travel, uncommitted stream epochs, or crash leftovers; all
    // invisible to scans and none of compaction's business)
    val live = TableStats.readIfExists(fs, dataDir).getOrElse {
      // registry-less (out-of-band) table: victims cannot be told apart
      // from deliberately-removed files, so refuse loudly rather than
      // silently compacting nothing
      val it0 = fs.listFiles(dataDir, true)
      var hasData = false
      while (it0.hasNext && !hasData)
        hasData = it0.next().getPath.getName.endsWith(".parquet")
      if (!hasData) return (0, 0)
      throw new IllegalStateException(
        s"graft: compaction needs the stats registry and $dataDir has none " +
          "(written out-of-band?); route one commit through the catalog or " +
          "provider write path first")
    }
    // split manifest into data entries and outstanding equality deletes
    val (deleteEntries, dataEntries) =
      live.partition(e => GraftDeletes.isDeleteRel(e._1))
    val baseDeleteRels = deleteEntries.keySet
    // per-delete-commit key lists, loaded once driver-side (small by
    // design); sorted so range overlap checks are binary searches
    val keysBySeq: Map[Long, Array[String]] = deleteEntries.toSeq
      .groupBy(_._2.seq)
      .map { case (s, es) =>
        s -> es.flatMap(e => GraftDeletes.readKeys(fs, dataDir, e._1))
          .distinct.sorted.toArray
      }
    val dseqs: Seq[Long] = keysBySeq.keys.toSeq.sorted
    /** Does any delete key with seq > fileSeq fall inside the file's
      * registered row_key range? No registered range → conservatively
      * yes (the file may hold any key). */
    def touchedByDeletes(e: TableStats.Entry): Boolean =
      dseqs.exists { s =>
        s > e.seq && {
          val keys = keysBySeq(s)
          e.cols.get(graft.functions.ColumnNames.RowKey) match {
            case Some((mn, mx)) =>
              // first key >= mn, check it is <= mx
              val i = {
                var lo = 0; var hi = keys.length
                while (lo < hi) {
                  val mid = (lo + hi) >>> 1
                  if (keys(mid) < mn) lo = mid + 1 else hi = mid
                }
                lo
              }
              i < keys.length && keys(i) <= mx
            case None => keys.nonEmpty
          }
        }
      }

    val partFields = table.partitionSpecs.map(PartField.parse)

    val byDir = scala.collection.mutable.Map[String, Vector[(String, Long)]]()
    val withSeq = scala.collection.mutable.Map[String, Long]() // path -> seq
    val deleteVictims = scala.collection.mutable.ArrayBuffer[String]()
    val layoutVictims = scala.collection.mutable.ArrayBuffer[String]()
    /** Does the scoped filter select this file's partition? (Unscoped
      * runs select everything.) Requires a current-spec layout to parse
      * the identity values; eval3 three-valued: only a provable TRUE
      * selects. */
    def inScope(rel0: String, e: TableStats.Entry): Boolean =
      partitionFilter.isEmpty || {
        val rel = TableStats.layoutRel(rel0)
        PartField.layoutMatches(rel, partFields) && e.seq >= table.specSince && {
          val vals = partFields.zip(rel.split('/').dropRight(1)).collect {
            case (PartField.Identity(c), seg) =>
              c -> PartitionPruning.parse(table.schema0(c).dataType,
                PartitionPruning.decode(seg.split("=", 2)(1)))
          }.toMap
          partitionFilter.forall(f =>
            PartitionPruning.eval3(f, vals).contains(true))
        }
      }

    dataEntries.foreach { case (rel, e) =>
      if (inScope(rel, e)) {
      val p = TableStats.pathOf(dataDir, rel)
      // registries written before sizes were recorded carry bytes = -1
      val bytes = if (e.bytes >= 0) e.bytes else fs.getFileStatus(p).getLen
      val dir = p.getParent.toString
      byDir(dir) = byDir.getOrElse(dir, Vector.empty) :+ (p.toString, bytes)
      withSeq(p.toString) = e.seq
      // merge-on-read maintenance: any file a pending delete can touch
      // is rewritten too (regardless of size), so compaction FOLDS the
      // deletes into the data and the delete entries can be dropped
      if (deleteEntries.nonEmpty && touchedByDeletes(e)) deleteVictims += p.toString
      // partition-spec evolution: files written under an earlier layout
      // (mismatched dirs OR predating the spec — a parameter-only change
      // keeps the dir names) are rewritten regardless of size — the
      // rewrite lands them under the CURRENT spec, restoring pruning and
      // metadata-only deletes
      if (partitionFilter.isEmpty &&
          (!PartField.layoutMatches(TableStats.layoutRel(rel), partFields) ||
            e.seq < table.specSince ||
            // a SHALLOW CLONE's external entries: OPTIMIZE reifies the
            // clone — rewrites land in the clone's own dir and the ext
            // references drop from the manifest (source files untouched:
            // the swap never physically deletes, and vacuum walks only
            // the clone's dir)
            TableStats.isExternal(rel)))
        layoutVictims += p.toString
      }
    }
    // CONVERGENCE with write-side rolling: compaction's own outputs go
    // through the same rolling factory and land NEAR the table's
    // write.target.file.bytes (parquet's in-flight size estimate closes
    // a file at the target, the encoded bytes land slightly under it) —
    // so "small" clamps to 3/4 of the target, or every OPTIMIZE on a
    // sub-smallBytes target would re-pick its own outputs forever
    // (unbounded churn, a new snapshot per run). Tails below 3/4-target
    // still group-compact until ≤1 remains per directory — the fixed
    // point.
    val effSmall = {
      val target = GraftTable.targetFileBytes(
        { import scala.jdk.CollectionConverters._
          table.properties().asScala.toMap })
      if (target > 0) math.min(smallBytes, math.max(1L, target * 3 / 4))
      else smallBytes
    }
    val groups = byDir.values.toSeq
      .map(_.filter(_._2 < effSmall))
      .filter(_.size >= 2)
    if (groups.isEmpty && deleteVictims.isEmpty && layoutVictims.isEmpty) {
      // nothing to rewrite — but a prior run may have reified a clone
      // and crashed before releasing its source pin; heal that here
      ShallowClone.releasePinIfReified(fs, table)
      return (0, 0)
    }
    val victims =
      (groups.flatten.map(_._1) ++ deleteVictims ++ layoutVictims).distinct

    // distributed rewrite: read the victims (schema of the TABLE, so
    // columns added after the files were written null-fill), write
    // consolidated files through the normal partitioned writer
    val schema = table.schema0
    val partitionCols = table.partitionSpecs
    def readFiles(paths: Seq[String]): org.apache.spark.sql.DataFrame =
      if (table.renames.isEmpty)
        spark.read.schema(schema).parquet(paths: _*)
          .select(schema.fieldNames.toIndexedSeq.map(col): _*)
      else {
        // RENAME COLUMN history: pre-rename victims carry former physical
        // names; coalesce each current column over its name history (a
        // file has exactly one of the names, the rest read null), so the
        // rewrite MIGRATES old files to current names
        import org.apache.spark.sql.functions.{coalesce, lit}
        val raw = spark.read.option("mergeSchema", "true").parquet(paths: _*)
        val cols = schema.fields.map { f =>
          val names = (f.name +: table.renames.getOrElse(f.name, Nil))
            .filter(raw.columns.contains)
          if (names.isEmpty) lit(null).cast(f.dataType).as(f.name)
          else coalesce(names.map(n => col(s"`$n`").cast(f.dataType)): _*).as(f.name)
        }
        raw.select(scala.collection.immutable.ArraySeq.unsafeWrapArray(cols): _*)
      }
    // Fold outstanding equality deletes into the rewrite: victims are
    // grouped by which delete commits apply to them (delete seq > file
    // seq — the same rule the scan's reader enforces) and each group
    // anti-joins its applicable key set (broadcast: delete files are the
    // small side). The rewritten rows then carry the commit's own, newer
    // seq with the deletions physically applied.
    val base0 =
      if (deleteEntries.isEmpty ||
          !schema.fieldNames.contains(graft.functions.ColumnNames.RowKey))
        readFiles(victims)
      else {
        def applicableFrom(s: Long): Int = dseqs.indexWhere(_ > s) match {
          case -1 => dseqs.length
          case i => i
        }
        victims.groupBy(p => applicableFrom(withSeq.getOrElse(p, 0L))).toSeq
          .map { case (i, paths) =>
            val keys = dseqs.drop(i).flatMap(keysBySeq(_)).distinct
            val df = readFiles(paths)
            if (keys.isEmpty) df
            else {
              import org.apache.spark.sql.functions.broadcast
              val delDf = spark.createDataset(keys)(
                org.apache.spark.sql.Encoders.STRING).toDF("__delkey")
              df.join(broadcast(delDf),
                df(graft.functions.ColumnNames.RowKey) === delDf("__delkey"),
                "left_anti")
            }
          }.reduce(_ unionByName _)
      }
    // one output per small-file group, but never squeeze a delete-fold
    // rewrite of large files below ~128 MB per output file
    val victimSet = victims.toSet
    val victimBytes = byDir.values.flatten
      .collect { case (p, b) if victimSet.contains(p) => b }.sum
    val nOut =
      if (outputFiles > 0) outputFiles
      else math.max(math.max(1, groups.size),
        (victimBytes / (128L * 1024 * 1024)).toInt)
    val df =
      if (zorderBy.nonEmpty) {
        import org.apache.spark.sql.functions.{expr, max => fmax, min => fmin}
        import org.apache.spark.sql.types.{DateType, NumericType, TimestampNTZType, TimestampType}
        // monotone numeric image of each z-order column: dates/timestamps
        // map to their epoch ordinal (a bare cast-to-double fails for
        // dates), and non-orderable-as-number types (string, binary, ...)
        // are rejected loudly — a null-casting lane would silently
        // collapse every row into one lane while reporting success
        def laneSrc(c: String): String = base0.schema(c).dataType match {
          case DateType => s"cast(unix_date(`$c`) as double)"
          case TimestampType => s"cast(unix_micros(`$c`) as double)"
          case TimestampNTZType =>
            s"cast(unix_micros(cast(`$c` as timestamp)) as double)"
          case _: NumericType => s"cast(`$c` as double)"
          case other => throw new IllegalArgumentException(
            s"graft: ZORDER BY `$c` of type ${other.simpleString} not " +
              "supported (numeric, date, and timestamp columns only)")
        }
        val laneSrcs = zorderBy.map(laneSrc)
        // per-column [min, max] over the rewrite set — one small aggregate
        val mm = base0.select(laneSrcs.flatMap(e => Seq(
          fmin(expr(e)), fmax(expr(e)))): _*).head()
        val k = zorderBy.length
        // lane width shrinks with the column count so every interleaved
        // bit fits below the sign bit (k=2 → 16 bits, k=4 → 15, k=8 → 7);
        // shiftleft past 63 would silently wrap mod 64 and scramble the curve
        val bits = math.min(16, 63 / k)
        val laneMax = (1 << bits) - 1
        val lanes = zorderBy.indices.map { j =>
          val (mn, mx) =
            if (mm.isNullAt(2 * j)) (0d, 1d) // all-null column: one lane value
            else (mm.getDouble(2 * j), mm.getDouble(2 * j + 1))
          val span = if (mx > mn) mx - mn else 1d
          s"coalesce(cast(((${laneSrcs(j)} - $mn) / $span * $laneMax.0) as int), 0)"
        }
        val zkey = (for { i <- 0 until bits; j <- 0 until k } yield
          s"shiftleft(cast((shiftright(${lanes(j)}, $i) & 1) as bigint), ${i * k + j})")
          .mkString(" + ")
        base0.withColumn("__gz", expr(zkey))
          .repartitionByRange(nOut, col("__gz"))
          .sortWithinPartitions(col("__gz"))
          .select(schema.fieldNames.toIndexedSeq.map(col): _*)
      }
      else if (sortBy.isEmpty) base0.coalesce(nOut)
      else base0.repartitionByRange(nOut, sortBy.map(col): _*)
        .sortWithinPartitions(sortBy.map(col): _*)
    val dataDirStr = table.dataDir
    // rows are MOVED, never re-keyed: drop any row-key generator property
    val props = {
      import scala.jdk.CollectionConverters._
      table.properties().asScala.toMap - graft.functions.RowKeyGenerator.Property
    }
    val writeId = s"compact-${java.util.UUID.randomUUID()}"
    val written: Array[(String, TableStats.Entry)] = df.queryExecution.toRdd
      .mapPartitionsWithIndex { (pid, rows) =>
        // task ATTEMPT id in the name so retries/speculation never collide
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        val w = GraftWriterFactory.newWriter(
          schema, props, dataDirStr, partitionCols, writeId, pid, attempt)
        rows.foreach(w.write)
        w.commit() match {
          case GraftCommitMessage(files) => files.iterator
          case _ => Iterator.empty
        }
      }.collect()

    // drop files from failed/speculative attempts of this compaction
    val writtenRels = written.map(_._1)
    Commit.sweep(fs, dataDir, writeId, writtenRels)

    // swap: re-point the stats registry away from the originals. The
    // compacted-away files are NOT physically deleted — earlier snapshots
    // still reference them (time travel); vacuum reclaims them later.
    // Conflict baseline: a concurrent commit that replaced one of our
    // inputs (COW delete, another compaction), or a merge-on-read
    // mutation that landed deletes our rewrite did not apply (the
    // rewrite's newer seq would let the rows escape them) — registering
    // the output would resurrect rows another committer just removed.
    val victimRels = victims.map(TableStats.keyOf(table.dataDir, _)).toSet
    // rows are MOVED, not changed: CDC feeds skip this version entirely
    Commit.run(fs, dataDir,
      Some(Commit.Check("compaction", writtenRels, victimRels, baseDeleteRels)),
      kind = Some(ChangeLog.Maintenance)) { base =>
      val next = base -- victimRels ++ written
      // drop every delete entry no surviving data file still needs: the
      // rewrite applied it to the victims, so it is live only for data
      // files with an OLDER seq whose row_key range can still hold one
      // of its keys (no range recorded → assume it can). Dropped delete
      // files stay on disk for time travel until vacuum reclaims them.
      val remaining = next.filterNot(e => GraftDeletes.isDeleteRel(e._1))
      val dropped = deleteEntries.keySet.filter { rel =>
        val dseq = deleteEntries(rel).seq
        !remaining.valuesIterator.exists(e => e.seq >= 0 && e.seq < dseq &&
          touchedByDeletes(e))
      }
      Some(next -- dropped)
    }
    // a clone whose last external entry was just rewritten is now a
    // fully independent table: release the vacuum pin it held on its
    // source (the DROP/RENAME refusal message promises OPTIMIZE unblocks)
    ShallowClone.releasePinIfReified(fs, table)
    (victims.size, written.length)
  }
}
