package graft.index

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** A served index table: its directory name under an index root and
  * the schema its readers declare. `spark.read.parquet` on an
  * undeclared table runs a one-task schema-inference job per read
  * (footer reads) before planning; a declared read plans straight from
  * the driver-side listing. The code that lands the table declares it
  * next to the landing and passes its rows through [[conform]], so
  * reader and writer cannot drift. A batch table's `batch=<tag>/`
  * partition column is not declared: Spark appends it from the
  * listing. */
private[graft] final case class ServedTable(name: String, schema: StructType) {

  def dir(root: String): String = s"$root/$name"

  def read(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(schema).parquet(dir(root))

  /** `rows` unchanged, once their column names and types (nullability
    * aside: a landed parquet column reads back nullable either way)
    * equal the declaration. */
  def conform(rows: DataFrame): DataFrame = {
    require(rows.schema.catalogString == schema.catalogString,
      s"rows landed as $name are ${rows.schema.catalogString}; " +
        s"its readers declare ${schema.catalogString}")
    rows
  }
}

/** The on-disk rules every persisted index family shares (dedup, CDC,
  * winnow, band, plain IVF, PQ, residual IVF-PQ, k-means-int) — one
  * copy each, so the operators never spell file layout themselves:
  *
  *  - VERSIONS: a versioned family keeps its tables under
  *    `<path>/v<NNNNNN>/` and commits one with an empty `_COMMITTED`
  *    marker ([[installIndexVersion]]); readers resolve the highest
  *    committed version ([[currentIndexDir]]). An unmarked version is
  *    never served.
  *  - IDENTITY BATCHES: rows land under `<table>/batch=<tag>/`, the tag
  *    derived from the batch's ids ([[identityBatchTag]]), with the
  *    landed tags kept in the table's `_batches` manifest
  *    ([[landIdentityBatch]]) — replay-idempotent appends. The
  *    unversioned families' serving tables (`cells`, `codes`, `bands`,
  *    `prints`) land ONLY this way: a build is [[clearTables]] plus one
  *    batch ([[landBuild]]), an append is one batch. Every batch-table
  *    read goes through one root listing that refuses a mixed-depth
  *    layout ([[batchDirTags]]).
  *  - TOMBSTONES: deleted ids land as identity batches under the index
  *    root's `deletes/` dir ([[landTombstones]]) and are read back as
  *    one id frame ([[idsIn]]) for the probe-side anti-join mask
  *    ([[liveRows]], [[withoutIdsIn]]), which is planned only when a
  *    tombstone batch is landed.
  *  - COMPACTION: a batch table's dirs merge into one `batch=compacted`
  *    dir whose manifest carries every merged tag ([[landCompacted]]);
  *    an unversioned table swaps it in with checked renames
  *    ([[compactBatchTable]]).
  *  - REBUILD: a rebuild clears the tables it replaces ([[clearTables]]).
  */
private[graft] object IndexStore {

  private val IndexVersionRe = """^v(\d{6})$""".r

  /** The `_batches` manifest name — one landed tag per line, living at
    * the table root next to the batch dirs. The manifest exists so a
    * COMPACTION (which physically merges batch dirs away) can carry
    * the landed-tag history into the new version: without it, a
    * replayed append whose first attempt committed BEFORE an
    * intervening compact would land as a fresh batch dir and silently
    * double-count — the _SUCCESS probe only protects replays within
    * one version's lifetime. */
  private val BatchManifest = "_batches"

  private def indexFs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ----- versioned install ----- //

  /** Every `v<NNNNNN>` directory under an index root (committed or
    * not), as (version, path) pairs. */
  private def indexVersions(spark: SparkSession,
                            path: String): Seq[(Long, Path)] = {
    val fs = indexFs(spark, path)
    val root = new Path(path)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.filter(_.isDirectory).flatMap { st =>
      st.getPath.getName match {
        case IndexVersionRe(n) => Some((n.toLong, st.getPath))
        case _ => None
      }
    }
  }

  /** The committed (version, dir) pairs under an index root. */
  private def committedVersions(spark: SparkSession,
                                path: String): Seq[(Long, Path)] = {
    val fs = indexFs(spark, path)
    indexVersions(spark, path).filter { case (_, p) =>
      fs.exists(new Path(p, "_COMMITTED"))
    }
  }

  /** The live (highest COMMITTED) version directory of a versioned
    * index — the single resolution point every reader goes through. */
  def currentIndexDir(spark: SparkSession, path: String): String = {
    val committed = committedVersions(spark, path)
    require(committed.nonEmpty,
      s"no committed dedup-index version under $path")
    committed.maxBy(_._1)._2.toString
  }

  /** Write a full index layout under the NEXT version directory, then
    * commit it with one atomic `_COMMITTED` create and sweep stale
    * versions (older committed ones and crashed uncommitted
    * leftovers). The sweep runs strictly AFTER the commit and RETAINS
    * the immediately-previous committed version: a reader that
    * resolved [[currentIndexDir]] moments before this install can
    * still be mid-scan on the previous version's parquet, so its
    * files must survive this call — the previous version is swept by
    * the NEXT lifecycle call instead (by which point any scan started
    * against two installs ago has long finished; a deployment with
    * genuinely unbounded reader lifetimes would pin versions with
    * leases). Crash contract: a kill at ANY instant — mid-write,
    * between two table writes, before the marker — leaves the old
    * version fully committed and readable (the marker is the single
    * commit point), and the orphaned uncommitted directory is swept
    * here on the next call (spec-pinned for every window, including a
    * first install that dies before its marker). */
  def installIndexVersion(spark: SparkSession, path: String)(
      write: String => Unit): Unit = {
    val fs = indexFs(spark, path)
    val prevCommitted = committedVersions(spark, path).map(_._1).maxOption
    val nextN = indexVersions(spark, path).map(_._1).maxOption.getOrElse(-1L) + 1
    val dir = new Path(new Path(path), f"v$nextN%06d")
    write(dir.toString)
    require(fs.createNewFile(new Path(dir, "_COMMITTED")),
      s"could not commit index version $dir")
    indexVersions(spark, path).foreach { case (n, p) =>
      if (p.getName != dir.getName && !prevCommitted.contains(n)) {
        fs.delete(p, true); ()
      }
    }
  }

  // ----- identity-addressed batch landing ----- //

  /** Deterministic identity tag of a row batch: row count + a wrapping
    * 64-bit SUM of per-id xxhash64 — an additive multiset hash,
    * order-independent, in which a repeated id adds rather than
    * cancels. Append batches carry DISJOINT id sets (the lifecycle
    * contract: new rows get new ids), so two different batches get
    * different tags even when their PAYLOADS are identical (a re-crawl
    * of the same pages — which is exactly why the tag hashes ids, not
    * payload), while a replay of the same batch reproduces the same
    * tag. A tombstone batch may repeat ids ([[landTombstones]] lands
    * them as given): an XOR fold would cancel each pair, so `{1,1,2,2}`
    * and `{3,3,4,4}` would share a tag and the later batch be skipped
    * as a replay; under the sum they differ. Accidental 64-bit
    * collision between different id multisets is the 2⁻⁶⁴-scale trade
    * for a journal-free idempotent append. Each partition folds its
    * own (count, sum) and the driver adds the partials: one job, no
    * exchange. */
  def identityBatchTag(rows: DataFrame, idCol: String): String = {
    val (n, h) = rows.select(xxhash64(col(idCol))).as[Long](Encoders.scalaLong)
      .mapPartitions { hashes =>
        var n = 0L
        var h = 0L
        hashes.foreach { x => n += 1; h += x }
        Iterator.single((n, h))
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .collect()
      .foldLeft((0L, 0L)) { case ((n0, h0), (n1, h1)) => (n0 + n1, h0 + h1) }
    f"n${n}_h${java.lang.Long.toHexString(h)}"
  }

  /** Land one batch of rows under an IDENTITY-ADDRESSED partition dir
    * `<tableDir>/batch=<tag>/` — the replay-idempotence mechanism (the
    * `streaming/Events.idempotentBatchWrite` convention applied to a
    * standing index table, with [[identityBatchTag]] playing the batch
    * id). A batch whose directory already carries the committer's
    * _SUCCESS — or whose tag the table's [[landedBatchTags]] manifest
    * records as landed in an EARLIER compacted-away version — is
    * SKIPPED entirely: the common replay touches no files at all, so
    * in-flight readers of the live version are never disturbed. Only a
    * replay after a mid-write crash (no _SUCCESS, no manifest row)
    * rewrites its own directory, and the partial files it clears were
    * an undercounted batch no reader should trust anyway. After
    * landing, the tag is recorded in the manifest so a later
    * compaction can carry it forward. `partitionCols` partition the
    * rows INSIDE the batch dir (`batch=<tag>/cell=<n>/`), so a probe
    * that filters on them still prunes directories. */
  def landIdentityBatch(rows: DataFrame, tableDir: String, tag: String,
                        partitionCols: String*): Unit = {
    val spark = rows.sparkSession
    val fs = indexFs(spark, tableDir)
    val batchDir = new Path(s"$tableDir/batch=$tag")
    val landed = landedBatchTags(spark, tableDir)
    if (!landed.contains(tag) && !fs.exists(new Path(batchDir, "_SUCCESS"))) {
      rows.write.mode("overwrite").partitionBy(partitionCols: _*)
        .parquet(batchDir.toString)
    }
    recordBatchTags(spark, tableDir, landed + tag)
  }

  /** Rebuild `<path>/<table>`: clear it and the index's tombstones (a
    * rebuild's corpus is the post-takedown truth), then land `rows` as
    * its one batch. The table was just emptied, so no replay can be
    * confused with this batch and the constant tag `build` spares the
    * [[identityBatchTag]] job an append pays. */
  def landBuild(rows: DataFrame, path: String, table: String,
                partitionCols: String*): Unit = {
    clearTables(rows.sparkSession, path, table, "deletes")
    landIdentityBatch(rows, s"$path/$table", "build", partitionCols: _*)
  }

  /** The set of batch tags the table's manifest records as landed
    * (empty when no manifest exists, where the per-dir _SUCCESS probe
    * still covers in-version replays). */
  def landedBatchTags(spark: SparkSession, tableDir: String): Set[String] = {
    val fs = indexFs(spark, tableDir)
    val mf = new Path(tableDir, BatchManifest)
    if (!fs.exists(mf)) Set.empty
    else {
      val in = fs.open(mf)
      try {
        scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().map(_.trim).filter(_.nonEmpty).toSet
      } finally in.close()
    }
  }

  /** Rewrite the table's `_batches` manifest with `tags` (temp file +
    * delete + rename — the crash window between delete and rename
    * degrades to an absent manifest, which the per-dir _SUCCESS probe
    * still covers for every replay except the already-rare
    * replay-after-compact). */
  def recordBatchTags(spark: SparkSession, tableDir: String,
                      tags: Set[String]): Unit = {
    val fs = indexFs(spark, tableDir)
    val root = new Path(tableDir)
    if (!fs.exists(root)) { fs.mkdirs(root); () }
    val mf = new Path(root, BatchManifest)
    val tmp = new Path(root, s"$BatchManifest.tmp")
    val out = fs.create(tmp, true)
    try out.write(tags.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    if (fs.exists(mf)) { fs.delete(mf, false); () }
    require(fs.rename(tmp, mf), s"could not install batch manifest $mf")
  }

  /** The batch tags physically present as `batch=<tag>/` dirs under a
    * table root — carried across compacts alongside the manifest, and
    * the physical half of the streaming snapshot gate. This one listing
    * is also the MIXED-DEPTH GUARD every batch-table read goes through:
    * Spark's file index infers partition columns from directory depth,
    * so a bare part file or a leftover `cell=` dir beside the batch
    * dirs would silently drop out of the read. Such a root fails here,
    * naming the table; entries named `_…` or `.…` (the manifest,
    * committer markers, checksums) are metadata and pass. */
  def batchDirTags(spark: SparkSession, tableDir: String): Set[String] = {
    val fs = indexFs(spark, tableDir)
    val root = new Path(tableDir)
    if (!fs.exists(root)) Set.empty
    else {
      val (batches, other) = fs.listStatus(root).toSeq
        .filterNot { st =>
          val n = st.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }
        .partition(st => st.isDirectory &&
          st.getPath.getName.startsWith("batch="))
      require(batches.isEmpty || other.isEmpty,
        s"batch table $tableDir also holds " +
          other.map(_.getPath.getName).sorted.mkString(", ") +
          " beside its batch= dirs; Spark would read it without them")
      batches.map(_.getPath.getName.stripPrefix("batch=")).toSet
    }
  }

  // ----- tombstones ----- //

  /** The one-column id table of a tombstone ledger keyed by `idCol` —
    * `deletes/` under an index root, or a family's own ledger dir. */
  def idTable(name: String, idCol: String): ServedTable =
    ServedTable(name, StructType(Seq(StructField(idCol, LongType))))

  /** Land a tombstone batch against the index rooted at `root`: the
    * `idCol` values of `ids`, as given, in one file under an
    * identity-addressed `<root>/deletes/batch=<tag>/` —
    * replay-idempotent, read back de-duplicated by [[liveRows]] (or
    * [[idsIn]] over [[deletesDir]]). No distinct pass: [[idsIn]]
    * de-duplicates on read, the tag's multiset hash keeps two batches
    * with repeated ids apart, and its count bounds the batch's
    * distinct ids from above ([[rowBound]]). The one file comes from a
    * shuffle of the bare id column into one partition, so the
    * caller's scan and filter keep their parallelism. */
  def landTombstones(ids: DataFrame, root: String, idCol: String): Unit = {
    val rows = idTable("deletes", idCol).conform(ids.select(col(idCol)))
    landIdentityBatch(rows.repartition(1), deletesDir(root),
      identityBatchTag(rows, idCol))
  }

  /** The tombstone dir of the index rooted at `root`. */
  def deletesDir(root: String): String = s"$root/deletes"

  /** The ids landed as batch dirs under `dir`, as a one-column
    * `idCol` frame, or None when none are landed. The driver-side
    * listing decides, so a reader with nothing to mask plans no
    * anti-join at all (not one against an empty relation, which Spark
    * would still broadcast in its own exchange). */
  def idsIn(spark: SparkSession, dir: String, idCol: String): Option[DataFrame] =
    Option.when(batchDirTags(spark, dir).nonEmpty) {
      val d = new Path(dir)
      idTable(d.getName, idCol).read(spark, d.getParent.toString)
        .select(col(idCol)).distinct()
    }

  private val CountedTag = """^n(\d+)_h[0-9a-f]+$""".r

  /** An upper bound on the rows under the batch table `tableDir`, from
    * its tags alone: the sum of the `n<count>` prefixes
    * ([[identityBatchTag]]) over every tag its manifest and its batch
    * dirs name. A `compacted` dir holds exactly the rows of the tags
    * its manifest carries ([[landCompacted]]), so it adds nothing when
    * the manifest names it. None when any other tag carries no count
    * (a batch landed by hand, or a manifest lost with its `compacted`
    * dir still present) — the caller then counts. */
  def rowBound(spark: SparkSession, tableDir: String): Option[Long] = {
    val manifest = landedBatchTags(spark, tableDir)
    val tags = (manifest ++ batchDirTags(spark, tableDir)) --
      Option.when(manifest.contains("compacted"))("compacted")
    val counts = tags.toSeq.collect { case CountedTag(n) => n.toLong }
    Option.when(counts.size == tags.size)(counts.sum)
  }

  /** `rows` minus the ids landed under `dir`, anti-joined on `idCol`;
    * `rows` itself when none are landed. */
  def withoutIdsIn(rows: DataFrame, dir: String, idCol: String): DataFrame =
    idsIn(rows.sparkSession, dir, idCol)
      .fold(rows)(ids => rows.join(ids, Seq(idCol), "left_anti"))

  /** The serving view of the declared table `table` under `path`: its
    * rows, read without schema inference, minus the ids landed under
    * `<path>/deletes` ([[withoutIdsIn]]). The physical table keeps
    * masked rows until the family's next rebuild applies them. A batch
    * table's rows carry its `batch` partition column. */
  def liveRows(spark: SparkSession, path: String, table: ServedTable,
               idCol: String): DataFrame =
    liveRowsOf(spark, path, table.name, idCol)(table.read(spark, path))

  /** [[liveRows]] of an UNDECLARED table, whose read infers its schema
    * (one footer-reading job per call). Left to the families whose
    * landings declare no schema yet — plain IVF and k-means-int
    * `cells`, plain-PQ `codes`, band `bands`, winnow `prints` — whose
    * other tables (centroids, codebooks) are read undeclared as well;
    * a new served table declares a [[ServedTable]] and reads through
    * [[liveRows]]. */
  def liveRowsInferred(spark: SparkSession, path: String, table: String,
                       idCol: String): DataFrame =
    liveRowsOf(spark, path, table, idCol)(spark.read.parquet(s"$path/$table"))

  private def liveRowsOf(spark: SparkSession, path: String, table: String,
                         idCol: String)(read: => DataFrame): DataFrame = {
    batchDirTags(spark, s"$path/$table") // the mixed-depth guard
    withoutIdsIn(read, deletesDir(path), idCol)
  }

  /** Delete the named tables under an index root, where present — the
    * rebuild step every unversioned family shares (a rebuild's corpus
    * is the post-takedown truth, so its tombstones go with the rows). */
  def clearTables(spark: SparkSession, path: String, names: String*): Unit = {
    val fs = indexFs(spark, path)
    names.foreach { t =>
      val d = new Path(path, t)
      if (fs.exists(d)) { fs.delete(d, true); () }
    }
  }

  // ----- batch-table compaction ----- //

  /** Land `rows` — the merged content of the batch table `from` — as
    * the single `batch=compacted` dir of a fresh table dir `to`, whose
    * `_batches` manifest carries every tag `from` had landed (its
    * manifest and its batch dirs) plus `compacted`. The carry is what
    * keeps a replayed append whose batch dir this merge consolidated
    * away a no-op afterwards ([[landIdentityBatch]] consults the
    * manifest). */
  def landCompacted(rows: DataFrame, from: String, to: String,
                    partitionCols: String*): Unit = {
    val spark = rows.sparkSession
    val carried = landedBatchTags(spark, from) ++ batchDirTags(spark, from)
    rows.write.mode("overwrite").partitionBy(partitionCols: _*)
      .parquet(s"$to/batch=compacted")
    recordBatchTags(spark, to, carried + "compacted")
  }

  /** Compact an UNVERSIONED batch table in place: merge its batch dirs
    * into one ([[landCompacted]]; rows regrouped by `partitionCols`, so
    * each partition lands one-ish file instead of one per append), then
    * swap the merge in with renames — live→retired, merged→live, drop
    * retired. Never delete-first: the rows are on disk at every
    * instant, and a crash between the renames leaves the retired dir
    * intact for manual recovery. Hadoop rename signals failure by
    * RETURNING FALSE, so each step is checked and the retired copy is
    * dropped only once the merged table is in place. (Single-FS renames
    * are atomic on HDFS and POSIX; object stores would swap a manifest
    * pointer instead.) A probe racing the swap can see the table
    * missing for one rename, so schedule compaction in maintenance
    * windows, not under live traffic. The row set is untouched:
    * tombstones stay masked, and the family's rebuild applies them. */
  def compactBatchTable(spark: SparkSession, tableDir: String,
                        partitionCols: String*): Unit = {
    val fs = indexFs(spark, tableDir)
    val live = new Path(tableDir)
    val merged = new Path(s"${tableDir}_compact")
    val retired = new Path(s"${tableDir}_retired")
    // a crashed run's leftover `retired` is dropped only when the live
    // table exists and already carries every batch it holds: a crash
    // between the renames can leave it the only copy
    val rs = retired.toString
    require(fs.exists(live) && (!fs.exists(retired) ||
      (landedBatchTags(spark, rs) ++ batchDirTags(spark, rs))
        .subsetOf(landedBatchTags(spark, tableDir))),
      s"cannot compact $live: it is missing, or a crashed compaction " +
        s"left batches it lacks at $retired — move those back first")
    Seq(merged, retired).foreach(fs.delete(_, true))
    landCompacted(spark.read.parquet(tableDir).drop("batch")
        .repartition(partitionCols.map(col): _*),
      tableDir, merged.toString, partitionCols: _*)
    require(fs.rename(live, retired),
      s"could not retire $live — table left untouched")
    if (!fs.rename(merged, live)) {
      val rolledBack = fs.rename(retired, live)
      throw new IllegalStateException(
        s"could not install the compacted table at $live" +
          (if (rolledBack) " — original layout restored"
           else s" — ORIGINAL PRESERVED AT $retired, restore manually"))
    }
    fs.delete(retired, true)
    ()
  }

  // ----- streaming snapshot gate ----- //

  /** A serving snapshot of `<path>/<table>` for a streaming probe: the
    * returned thunk re-runs `read` only when the landed state it
    * depends on changed since the last call, so a quiet index costs
    * one small manifest read and one tombstone-sized listing per
    * trigger instead of a fresh listing + footer reads of the whole
    * table (which grows linearly with landed batch dirs).
    *
    * The gate covers BOTH lifecycles a serving view depends on. The
    * table gates on its `_batches` MANIFEST (a torn append — dir
    * landed, no manifest row — stays invisible here AND is re-landed by
    * its replaying writer, so the divergence heals). Tombstones gate on
    * the PHYSICAL batch-dir listing of `<path>/deletes` instead:
    * one-shot probes mask by scanning those physical dirs, so a
    * manifest-keyed gate would leave a crash's torn tombstone MASKED
    * for one-shot readers but SERVED by a stale stream snapshot until
    * replay — and `deletes/` is tombstone-sized, so listing it costs
    * what the manifest read costs. Call the thunk from `foreachBatch`,
    * whose body runs in the query's own JVM, not in tasks. */
  def servingSnapshot(spark: SparkSession, path: String, table: String)(
      read: => DataFrame): () => DataFrame = {
    var snapTags: Option[(Set[String], Set[String])] = None
    var snap: DataFrame = null
    () => {
      val tags = (landedBatchTags(spark, s"$path/$table"),
        batchDirTags(spark, deletesDir(path)))
      if (!snapTags.contains(tags)) {
        snap = read
        snapTags = Some(tags)
      }
      snap
    }
  }
}
