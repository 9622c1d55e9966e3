package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path => HPath}
import java.nio.file.FileAlreadyExistsException
import java.util.UUID

/** Minimal manifest-committed parquet table — the commit protocol
  * behind Delta/Iceberg, reduced to its load-bearing core, with the
  * DELTA-LOG structure that makes it hold at warehouse scale:
  *
  *  - WRITERS stage part files into `data/txn-<uuid>/` (never visible
  *    by path), then COMMIT by atomically creating
  *    `_manifest/v<N>.manifest` carrying ONLY that commit's actions
  *    (`add=` lines, `txn=` idempotence markers, or a `reset` for a
  *    replacing rewrite) — commit metadata is **O(this batch)**, not
  *    O(table). A full-snapshot rewrite per commit would make the
  *    millionth-file table pay its whole history on every append;
  *    that is the design this replaces.
  *  - The manifest create is ATOMIC create-if-absent ([[Io.putIfAbsent]]
  *    — POSIX link(2) on the local FS, no-overwrite FileContext.rename
  *    on HDFS/ABFS), so two writers racing to the same version see
  *    exactly one winner — the loser re-reads the new latest and
  *    retries at N+1 with ITS OWN files still staged (append never
  *    loses data to a conflict, it just re-sequences).
  *  - ALL filesystem access is the Hadoop FileSystem API resolved from
  *    the table path's scheme — `dir` may be `hdfs://...`/`abfs://...`
  *    and the same protocol runs unchanged; only S3 needs a
  *    conditional-PUT log store (rename is not atomic there).
  *  - READERS reconstruct a snapshot by folding the log — from the
  *    newest `v<K>.checkpoint` at or below the target version (a full
  *    snapshot the writer drops every [[CheckpointInterval]] commits),
  *    then each manifest up to the target. Fold cost is O(one
  *    checkpoint + ≤interval manifests), never O(history). Data files
  *    from crashed or in-flight writers are invisible until a manifest
  *    names them: no half-written table states, ever.
  *
  * Scale shape: appends are O(batch) metadata; reads are O(snapshot +
  * interval); readers never LIST the data directory (the object-store
  * eventual-consistency trap). On a real object store the atomic
  * create primitive maps to a conditional PUT (If-None-Match: *) —
  * the protocol is unchanged.
  *
  * Maintenance completes the protocol: [[compact]] rewrites the
  * snapshot as a `reset`+adds commit pinned to the version it read
  * (a concurrent append aborts and restarts the rewrite — it is never
  * erased), and [[vacuum]] bounds time travel and deletes every data
  * file no surviving version references (compacted-away files and
  * crashed-writer orphans alike).
  *
  * Log format (line-oriented, no parser dependencies): line 1
  * `version=<N>`, then per line `add=<entry>` (a data-relative path
  * plus metadata segments, see [[ManifestEntry]]),
  * `remove=<data-relative path>` (drops that file from the folded
  * set — the O(affected) half of copy-on-write DELETE/MERGE),
  * `dv=<data-relative path>|<positions>` (a DELETION VECTOR — the
  * merge-on-read row mask for that live file, positions as ascending
  * inclusive ranges; the latest mask for a file replaces its
  * predecessor, `remove=`/`reset` drop it),
  * `txn=<writer>:<batch>`, `cdf=<data-relative path>` (a CHANGE-DATA
  * file the commit wrote alongside its rewrite — rows + a baked-in
  * `_change_type` column; never part of the folded snapshot, served
  * only by [[readChanges]]), `op=<NAME>` (writer-stamped commitInfo,
  * served by [[history]] — DESCRIBE HISTORY; never snapshot state),
  * or `reset` (clears the folded file set;
  * txn markers always survive — a streaming writer's retried batch
  * must stay a no-op across compactions). A `v<N>.checkpoint` holds
  * the FOLDED state at N in the same format (removes already
  * applied; cdf entries are interval-scoped and never checkpointed),
  * so checkpoints stay the only O(table) metadata writes.
  */
object ManifestTable {

  /** Write a full checkpoint every this many commits. */
  val CheckpointInterval = 10

  /** Hadoop conf for table I/O: the active session's (so cluster
    * configs — fs.defaultFS, object-store credentials — apply), a
    * fresh default otherwise (metadata-only calls with no session). */
  private def hadoopConf: Configuration =
    SparkSession.getActiveSession.map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** All table filesystem access goes through this Hadoop-FS facade —
    * the table works against any FileSystem a cluster mounts (HDFS,
    * ABFS, the local FS in tests), not just java.io. Paths resolve via
    * `new Path(dir, ...)` exactly like the DSv2 read side
    * (ManifestStreamSource), so `dir` may carry a scheme
    * (`hdfs://nn/tables/t`). FileSystem instances come from Hadoop's
    * per-(scheme, authority) cache — constructing an Io per operation
    * is a map lookup, not a connection. */
  private final class Io(dir: String) {
    val conf: Configuration = hadoopConf
    val root = new HPath(dir)
    val fs: FileSystem = root.getFileSystem(conf)
    val manifest = new HPath(root, "_manifest")
    val data = new HPath(root, "data")
    def dataPath(rel: String): String = new HPath(data, rel).toString
    def list(p: HPath): Seq[FileStatus] =
      try fs.listStatus(p).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    def readLines(p: HPath): Seq[String] = {
      val in = fs.open(p)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        new String(bytes.toByteArray, "UTF-8").split("\n").toSeq
          .filter(_.nonEmpty)
      } finally in.close()
    }
    def exists(p: HPath): Boolean = fs.exists(p)
    def delete(p: HPath, recursive: Boolean = false): Boolean =
      try fs.delete(p, recursive)
      catch { case _: java.io.FileNotFoundException => false }
    def isLocal: Boolean = fs.getScheme == "file"

    /** Atomic create-if-absent publish of a fully-written log file —
      * the commit primitive. Two writers racing to one version see
      * exactly one winner; readers never see a partial manifest.
      *  - local FS: hard-link a fully-written temp to the target —
      *    POSIX link(2) fails with EEXIST (rename(2) would silently
      *    replace), genuinely atomic, exercised by the 6-thread race
      *    specs.
      *  - other schemes: temp write + FileContext.rename WITHOUT
      *    Rename.OVERWRITE — atomic create-if-absent on HDFS/ABFS
      *    (their rename is a namespace op that fails when the
      *    destination exists). S3A CAVEAT: rename there is copy+delete
      *    and NOT atomic; deploy on S3 behind a conditional-PUT
      *    (If-None-Match: *) log store, the Delta S3 LogStore shape.
      */
    def putIfAbsent(target: HPath, body: Array[Byte]): Boolean =
      if (isLocal) {
        val dirP = java.nio.file.Paths.get(target.getParent.toUri.getPath)
        java.nio.file.Files.createDirectories(dirP)
        val tmp = dirP.resolve(s".tmp-${UUID.randomUUID()}")
        java.nio.file.Files.write(tmp, body)
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(target.toUri.getPath), tmp)
          java.nio.file.Files.deleteIfExists(tmp)
          true
        } catch {
          case _: FileAlreadyExistsException =>
            java.nio.file.Files.deleteIfExists(tmp); false
        }
      } else {
        fs.mkdirs(target.getParent)
        val tmp = new HPath(target.getParent, s".tmp-${UUID.randomUUID()}")
        val out = fs.create(tmp, false)
        try out.write(body) finally out.close()
        try {
          FileContext.getFileContext(fs.getUri, conf).rename(tmp, target)
          true
        } catch {
          case e: java.io.IOException =>
            delete(tmp)
            if (exists(target)) false // lost the race: one winner stands
            else throw e
        }
      }
  }

  private def io(dir: String): Io = new Io(dir)

  /** Absolute (possibly scheme-qualified) path of a data-relative
    * file — what every parquet read/write call receives. */
  private def dataPath(dir: String, rel: String): String = io(dir).dataPath(rel)

  /** Recursively drop a staged txn dir — an abandoned rewrite, or the
    * DSv2 write's abort path. */
  private[graft] def dropStagedDir(dir: String, txn: String): Unit = {
    val o = io(dir)
    o.delete(new HPath(o.data, txn), recursive = true): Unit
  }

  private def versionOf(name: String, suffix: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(suffix))
      name.stripPrefix("v").stripSuffix(suffix).toLongOption
    else None

  /** Highest committed version, if any commit exists. */
  def latestVersion(dir: String): Option[Long] = {
    val o = io(dir)
    o.list(o.manifest).flatMap(f => versionOf(f.getPath.getName, ".manifest"))
      .sorted.lastOption
  }

  private case class State(files: Vector[ManifestEntry], txns: Set[String],
                           schema: Option[String],
                           dvs: Map[String, String] = Map.empty,
                           colmap: Option[String] = None)

  /** Deletion-vector position encoding: ascending row positions as
    * comma-separated inclusive ranges (`0,5-9,12`) — O(runs) text,
    * never worse than O(deleted rows), and human-auditable in the log
    * like every other action. Package-visible for the DV specs. */
  private[graft] def encodePositions(ps: Seq[Long]): String = {
    require(ps.nonEmpty, "empty deletion vector must not be committed")
    val sorted = ps.distinct.sorted
    val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var (s0, e0) = (sorted.head, sorted.head)
    sorted.tail.foreach { p =>
      if (p == e0 + 1) e0 = p
      else { runs += ((s0, e0)); s0 = p; e0 = p }
    }
    runs += ((s0, e0))
    runs.map { case (a, b) => if (a == b) s"$a" else s"$a-$b" }.mkString(",")
  }

  private[graft] def decodePositions(spec: String): Seq[Long] =
    spec.split(',').toSeq.flatMap { r =>
      r.split('-') match {
        case Array(a) => Seq(a.toLong)
        case Array(a, b) => a.toLong to b.toLong
        case _ => throw new IllegalStateException(s"corrupt dv run '$r'")
      }
    }

  /** Cardinality of a DV spec without materializing the positions. */
  private def dvCardinality(spec: String): Long =
    spec.split(',').iterator.map { r =>
      r.split('-') match {
        case Array(_) => 1L
        case Array(a, b) => b.toLong - a.toLong + 1L
        case _ => throw new IllegalStateException(s"corrupt dv run '$r'")
      }
    }.sum

  private def readLog(o: Io, p: HPath, expectVersion: Long): Seq[String] = {
    val lines = o.readLines(p)
    require(lines.nonEmpty && lines.head == s"version=$expectVersion",
      s"corrupt log file $p")
    lines.tail
  }

  /** Action lines of committed manifest `v` — the one place a missing
    * version is reported (vacuumed history, or a log with a hole). */
  private def manifestLines(o: Io, dir: String, v: Long): Seq[String] = {
    val mf = new HPath(o.manifest, s"v$v.manifest")
    if (!o.exists(mf))
      throw new IllegalStateException(
        s"version $v missing from the log of $dir (vacuumed past it?)")
    readLog(o, mf, v)
  }

  /** `dv=<rel>|<positions>` → (rel, positions). */
  private def splitDv(l: String): (String, String) = {
    val body = l.stripPrefix("dv=")
    val cut = body.indexOf('|')
    require(cut > 0, s"corrupt dv action: $l")
    (body.take(cut), body.drop(cut + 1))
  }

  private def dvAction(rel: String, spec: String): String = s"dv=$rel|$spec"

  /** Log folds performed — the metadata-read cost meter. Each fold is
    * O(checkpoint + interval) file reads, which on an object store is
    * remote LIST + GETs; the per-operation fold budget is spec-pinned
    * (MetadataCostSpec) so a refactor can't quietly multiply it. */
  private[graft] val foldCount = new java.util.concurrent.atomic.AtomicLong

  /** Fold the log into the snapshot state at `target`: newest
    * checkpoint ≤ target, then each manifest up to target. Every
    * version in (checkpoint, target] must exist — [[vacuum]] preserves
    * this invariant by checkpointing before it drops history. Each
    * `add=` entry is parsed once here ([[ManifestEntry]]). */
  private def fold(dir: String, target: Long): State = {
    foldCount.incrementAndGet()
    val o = io(dir)
    val ckpt = o.list(o.manifest)
      .flatMap(f => versionOf(f.getPath.getName, ".checkpoint"))
      .filter(_ <= target).sorted.lastOption
    var files = Vector.empty[ManifestEntry]
    var txns = Set.empty[String]
    var schema = Option.empty[String]
    var dvs = Map.empty[String, String]
    var colmap = Option.empty[String]
    def apply(lines: Seq[String]): Unit = lines.foreach {
      case "reset" => files = Vector.empty; dvs = Map.empty
      case l if l.startsWith("add=") => files :+= ManifestEntry.parse(l.stripPrefix("add="))
      case l if l.startsWith("remove=") =>
        // match on the bare path: the live entry may carry a stats suffix
        val rel = l.stripPrefix("remove=")
        files = files.filterNot(_.rel == rel)
        dvs -= rel // a rewrite of the file materializes its mask away
      case l if l.startsWith("dv=") =>
        // merge-on-read deletion vector: `dv=<rel>|<positions>` REPLACES
        // the file's mask (writers merge prior positions before
        // committing, so the latest action is always cumulative)
        dvs += splitDv(l)
      case l if l.startsWith("txn=") => txns += l.stripPrefix("txn=")
      case l if l.startsWith("schema=") => schema = Some(l.stripPrefix("schema="))
      case "colmap=-" => colmap = None // explicit clear (RESTORE to pre-mapping)
      case l if l.startsWith("colmap=") => colmap = Some(l.stripPrefix("colmap="))
      case l if l.startsWith("cdf=") => () // change-data files: feed-only, never snapshot state
      case l if l.startsWith("op=") => ()  // commitInfo: introspection-only, never snapshot state
      case l => throw new IllegalStateException(s"unknown log action: $l")
    }
    ckpt.foreach { c =>
      apply(readLog(o, new HPath(o.manifest, s"v$c.checkpoint"), c))
    }
    val from = ckpt.map(_ + 1).getOrElse(0L)
    (from to target).foreach(v => apply(manifestLines(o, dir, v)))
    State(files, txns, schema, dvs, colmap)
  }

  private def resolved(dir: String, version: Option[Long]): Long =
    version.orElse(latestVersion(dir)).getOrElse(
      throw new IllegalStateException(s"no committed version in $dir"))

  /** ONE fold for a whole operation: resolve + fold, then derive
    * schema/mapping/dvs from the returned state instead of re-folding
    * per accessor — the difference between O(1) and O(accessors)
    * metadata reads per operation at object-store scale. */
  private def snapshotAt(dir: String, version: Option[Long]): (Long, State) = {
    val v = resolved(dir, version)
    (v, fold(dir, v))
  }

  private def schemaOf(st: State): Option[org.apache.spark.sql.types.StructType] =
    st.schema.map(j =>
      org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
          .fields.map(_.copy(nullable = true))))

  private def mappingOf(st: State): Option[Seq[(String, String)]] =
    st.colmap.map(decodeMapping)

  /** The state's PHYSICAL schema: the recorded logical schema with the
    * mapping applied (None when the table never recorded one). */
  private def physicalSchema(st: State): Option[org.apache.spark.sql.types.StructType] =
    schemaOf(st).map { lo =>
      val byLogical = mappingOf(st).getOrElse(Nil).toMap
      org.apache.spark.sql.types.StructType(lo.fields.map(f =>
        f.copy(name = byLogical.getOrElse(f.name, f.name))))
    }

  /** Live file list of a snapshot (latest unless `version` given).
    * Paths only — the entries' metadata segments are dropped. */
  def snapshotFiles(dir: String, version: Option[Long] = None): Seq[String] =
    fold(dir, resolved(dir, version)).files.map(_.rel)

  /** COUNT(*) answered purely from manifest metadata — zero data-file
    * reads (the Iceberg/Delta metadata-only aggregate): the sum of the
    * per-file `rows=` counts, defined only when EVERY live file
    * recorded one (a stats-less append in the history makes the count
    * unknowable without a scan → None, caller falls back to a read).
    * Row counts are exact at write time and copy-on-write keeps them
    * exact: DELETE/MERGE rewrite affected files with fresh counts and
    * never mutate a counted file in place. */
  def countMeta(dir: String, version: Option[Long] = None): Option[Long] = {
    val st = fold(dir, resolved(dir, version))
    val counts = st.files.map(_.rows)
    if (counts.forall(_.isDefined))
      // deletion vectors mask rows in place: COUNT(*) is the recorded
      // per-file counts minus each live mask's exact cardinality —
      // still zero data reads (the DV spec itself carries the count)
      Some(counts.iterator.map(_.get).sum -
        st.dvs.valuesIterator.map(dvCardinality).sum)
    else None
  }

  /** Global (min, max) of `statCol` answered purely from manifest
    * metadata — defined only when EVERY live file carries bounds for
    * the column (one unknown file could widen either end). Per-file
    * bounds are the exact min/max of the file's rows at write time,
    * so folding them is the exact table min/max, not an estimate.
    * None also for the zero-file snapshot (no rows → no extrema). */
  def rangeMeta(dir: String, statCol: String,
                version: Option[Long] = None): Option[(Long, Long)] = {
    val st = snapshotAt(dir, version)._2
    val phys = physicalIn(st, statCol)
    val statted = st.files.map(_.stats)
    if (statted.isEmpty || !statted.forall(_.contains(phys))) None
    else Some((statted.iterator.map(_(phys)._1).min,
      statted.iterator.map(_(phys)._2).max))
  }

  /** Live files with their per-column (min, max) stats recorded at
    * [[appendWithStats]] time (Iceberg-style per-column bounds; empty
    * map for files committed without stats). */
  def snapshotFilesWithStats(dir: String, version: Option[Long] = None)
      : Seq[(String, Map[String, (Long, Long)])] =
    fold(dir, resolved(dir, version)).files.map(e => (e.rel, e.stats))

  /** Batch ids a writer has already committed (latest snapshot). */
  def committedBatches(dir: String, writer: String): Set[Long] =
    latestVersion(dir) match {
      case None => Set.empty
      case Some(v) => fold(dir, v).txns
        .filter(_.startsWith(s"$writer:"))
        .map(_.stripPrefix(s"$writer:").toLong)
    }

  /** The table schema RECORDED at `version` (latest if omitted) by
    * [[appendEvolving]]'s `schema=` actions — None for tables that
    * never evolved (their files all share one schema). Time travel
    * resolves to the schema as of that version: reading v3 of a table
    * that evolved at v5 presents v3's columns. Every column comes back
    * NULLABLE regardless of how the recording batch declared it: any
    * column can predate some live file and NULL-backfill, and a
    * non-nullable long read through a null-blind path would silently
    * surface as 0. */
  def tableSchema(dir: String, version: Option[Long] = None)
      : Option[org.apache.spark.sql.types.StructType] =
    schemaOf(fold(dir, resolved(dir, version)))

  // ── column mapping (rename/drop without rewrites) ───────────────
  // The Delta column-mapping shape: data files store PHYSICAL column
  // names; a `colmap=<logical>:<physical>,...` metadata action gives
  // the logical→physical indirection, so RENAME is a metadata-only
  // commit (the physical name — and every file and stats entry keyed
  // by it — is untouched) and DROP removes the mapping entry without
  // touching a byte; a column re-added after a drop maps to a FRESH
  // physical name, so the dropped data can never resurrect through
  // old files. Stats are recorded under PHYSICAL names, which is
  // exactly why pruning SURVIVES a rename. A colmap table always has
  // a recorded schema (rename/drop record both). `colmap=-` clears
  // the mapping (RESTORE to a pre-mapping version).

  /** The logical→physical column mapping recorded at `version`
    * (latest if omitted) — None for tables that never renamed or
    * dropped a column (their file columns ARE the logical columns). */
  def columnMapping(dir: String, version: Option[Long] = None)
      : Option[Seq[(String, String)]] = {
    if (latestVersion(dir).isEmpty) return None
    fold(dir, resolved(dir, version)).colmap.map(decodeMapping)
  }

  private def decodeMapping(m: String): Seq[(String, String)] =
    m.split(',').toSeq.map { e =>
      e.split(':') match {
        case Array(l, p) => (l, p)
        case _ => throw new IllegalStateException(s"corrupt colmap entry '$e'")
      }
    }

  private def encodeMapping(m: Seq[(String, String)]): String = {
    m.foreach { case (l, p) =>
      require(StatColName.matches(l) && StatColName.matches(p),
        s"column names in a mapping must match [A-Za-z0-9_]+: '$l'/'$p'")
    }
    m.map { case (l, p) => s"$l:$p" }.mkString(",")
  }

  /** Physical name of a logical column under a mapping — identity
    * when the table never mapped. */
  private def physicalName(mapping: Option[Seq[(String, String)]], logical: String): String =
    mapping.flatMap(_.find(_._1 == logical).map(_._2)).getOrElse(logical)

  private def physicalIn(st: State, logical: String): String =
    physicalName(mappingOf(st), logical)

  /** Rename physical columns back to their logical names (and DROP
    * columns the mapping no longer carries); extra columns a frame
    * carries beyond the mapping (cdf's `_change_type`, helper
    * columns) pass through untouched. Identity without a mapping. */
  private def logicalize(df: DataFrame,
                         mapping: Option[Seq[(String, String)]]): DataFrame =
    mapping match {
      case None => df
      case Some(m) =>
        import org.apache.spark.sql.functions.col
        val physNames = m.map(_._2).toSet
        val mapped = m.collect {
          case (l, p) if df.columns.contains(p) => col(p).as(l)
        }
        val passthrough = df.columns.filterNot(physNames.contains).map(col)
        df.select(mapped ++ passthrough: _*)
    }

  /** Rename column `from` to `to` — METADATA-ONLY (the point of
    * column mapping): one commit carrying the updated mapping and the
    * renamed logical schema; zero data files touched, all physical-
    * keyed column stats stay live, time travel before the commit
    * presents the old name. */
  def renameColumn(spark: SparkSession, dir: String,
                   from: String, to: String): Long = {
    require(StatColName.matches(to), s"illegal column name '$to'")
    val logical = tableSchema(dir).getOrElse(read(spark, dir).schema)
    require(logical.fieldNames.contains(from), s"no such column: '$from'")
    require(!logical.fieldNames.contains(to), s"column '$to' already exists")
    val mapping = columnMapping(dir)
      .getOrElse(logical.fieldNames.toSeq.map(n => (n, n)))
    val newMapping = mapping.map { case (l, p) => (if (l == from) to else l, p) }
    val newSchema = org.apache.spark.sql.types.StructType(logical.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    commit(dir, Seq("colmap=" + encodeMapping(newMapping),
      "schema=" + newSchema.json, s"op=RENAME($from->$to)")).get
  }

  /** Drop column `name` — METADATA-ONLY: the mapping entry and the
    * logical schema field go; the physical bytes stay in old files
    * but no read path can reach them, and a column RE-ADDED under the
    * same logical name ([[appendEvolving]]) maps to a fresh physical
    * name, so the dropped values never resurrect. */
  def dropColumn(spark: SparkSession, dir: String, name: String): Long = {
    val logical = tableSchema(dir).getOrElse(read(spark, dir).schema)
    require(logical.fieldNames.contains(name), s"no such column: '$name'")
    require(logical.fields.length > 1, "cannot drop the last column")
    val mapping = columnMapping(dir)
      .getOrElse(logical.fieldNames.toSeq.map(n => (n, n)))
    val newMapping = mapping.filterNot(_._1 == name)
    val newSchema = org.apache.spark.sql.types.StructType(
      logical.fields.filterNot(_.name == name))
    commit(dir, Seq("colmap=" + encodeMapping(newMapping),
      "schema=" + newSchema.json, s"op=DROP($name)")).get
  }

  /** Parquet reader pinned to the snapshot's PHYSICAL schema, plain
    * reader when none — EVERY path that reads committed data files
    * (snapshot read, change feed, delete/merge rewrites) must come
    * through here: an unpinned read of files spanning a schema
    * evolution takes whichever footer parquet samples first, silently
    * dropping (or crashing on) the evolved column. Callers then
    * [[logicalize]] the frame back to logical names. */
  private def pinnedReader(spark: SparkSession, st: State)
      : org.apache.spark.sql.DataFrameReader =
    physicalSchema(st).fold(spark.read)(spark.read.schema(_))

  /** Live deletion vectors of a snapshot: data-relative file →
    * masked-out row positions (ascending). Empty for tables whose DML
    * has always been copy-on-write. */
  def snapshotDeletionVectors(dir: String, version: Option[Long] = None)
      : Map[String, Seq[Long]] =
    fold(dir, resolved(dir, version)).dvs.map { case (r, spec) =>
      r -> decodePositions(spec)
    }

  /** Pinned read of `rels` carrying two physical-address helper
    * columns: `_m_rel` (data-relative path — the last two segments of
    * the parquet reader's `_metadata.file_path`) and `_m_pos`
    * (`_metadata.row_index`, position
    * within the file — the Delta/Iceberg DV addressing scheme). The
    * columns are bound to the scan itself, so they survive any join
    * stacked on top (input_file_name would not). */
  private def keyedRead(spark: SparkSession, dir: String,
                        st: State, rels: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, concat_ws, element_at, split => fsplit}
    logicalize(pinnedReader(spark, st)
        .parquet(rels.map(rel => dataPath(dir, rel)): _*),
        mappingOf(st))
      .withColumn("_m_rel", concat_ws("/",
        element_at(fsplit(col("_metadata.file_path"), "/"), -2),
        element_at(fsplit(col("_metadata.file_path"), "/"), -1)))
      .withColumn("_m_pos", col("_metadata.row_index"))
  }

  /** Anti-apply deletion vectors to a [[keyedRead]] frame — the
    * merge-on-read half of DML: masked rows drop via a broadcast
    * anti-join against the O(deleted rows) position set; no shuffle,
    * and files without a mask stream through untouched. */
  private def applyMask(spark: SparkSession, keyed: DataFrame,
                        dvs: Map[String, String], rels: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val relevant = dvs.view.filterKeys(rels.toSet).toMap
    if (relevant.isEmpty) return keyed
    import spark.implicits._
    val deleted = relevant.toSeq
      .flatMap { case (r, spec) => decodePositions(spec).map(p => (r, p)) }
      .toDF("_dv_rel", "_dv_pos")
    keyed.join(broadcast(deleted),
        keyed("_m_rel") === deleted("_dv_rel") &&
          keyed("_m_pos") === deleted("_dv_pos"),
        "left_anti")
      .drop("_dv_rel", "_dv_pos")
  }

  /** DV-masked pinned read of `rels` in the table's own schema. EVERY
    * read of live table data must come through here (or apply the mask
    * itself) — a survivor rewrite that read a masked row would
    * resurrect it. */
  private def maskedRead(spark: SparkSession, dir: String,
                         st: State, rels: Seq[String]): DataFrame = {
    if (st.dvs.view.filterKeys(rels.toSet).isEmpty)
      return logicalize(pinnedReader(spark, st)
          .parquet(rels.map(rel => dataPath(dir, rel)): _*),
        mappingOf(st))
    applyMask(spark, keyedRead(spark, dir, st, rels), st.dvs, rels)
      .drop("_m_rel", "_m_pos")
  }

  /** [[maskedRead]] against a snapshot's own fold — the common case;
    * costs exactly ONE fold. */
  private def maskedSnapshotRead(spark: SparkSession, dir: String,
                                 version: Option[Long], rels: Seq[String]): DataFrame =
    maskedRead(spark, dir, snapshotAt(dir, version)._2, rels)

  /** Every surviving version with its REPAIRED commit timestamp —
    * manifest mtimes lifted to be non-decreasing in version order
    * (writer clock skew can stamp v5 older than v4; the later VERSION
    * wins, so its time lifts to predecessor + 1 ms). One clock for
    * both [[versionAtTimestamp]] and [[history]] — their answers must
    * never disagree about when a version became current. */
  private def repairedCommitTimes(dir: String): Seq[(Long, Long)] = {
    val o = io(dir)
    val byVersion = o.list(o.manifest)
      .flatMap(f => versionOf(f.getPath.getName, ".manifest")
        .map(_ -> f.getModificationTime))
      .sortBy(_._1)
    var last = Long.MinValue
    byVersion.map { case (v, ts) =>
      val t = math.max(ts, if (last == Long.MinValue) ts else last + 1)
      last = t
      (v, t)
    }
  }

  /** Resolve a wall-clock timestamp to a version — Delta's
    * `timestampAsOf` rule: the LATEST version whose commit time is ≤
    * `tsMillis`. Commit time is the manifest file's mtime (what Delta
    * itself uses), repaired to be non-decreasing the way Delta's
    * history reconstruction does (clock skew between writers can
    * stamp v5 older than v4 — the later VERSION still wins, so a
    * non-monotonic mtime is lifted to its predecessor's + 1 ms).
    * Throws when `tsMillis` predates the first commit (no snapshot
    * existed yet — silently serving v0 would fabricate history). */
  def versionAtTimestamp(dir: String, tsMillis: Long): Long = {
    val adjusted = repairedCommitTimes(dir)
    if (adjusted.isEmpty)
      throw new IllegalStateException(s"no committed version in $dir")
    val at = adjusted.filter(_._2 <= tsMillis)
    if (at.isEmpty)
      throw new IllegalStateException(
        s"timestamp $tsMillis predates the first commit of $dir " +
          s"(earliest ${adjusted.head._2})")
    at.last._1
  }

  /** [[read]] pinned to the snapshot as of a wall-clock timestamp. */
  def readAsOf(spark: SparkSession, dir: String, tsMillis: Long): DataFrame =
    read(spark, dir, Some(versionAtTimestamp(dir, tsMillis)))

  /** One commit's audit row — see [[history]]. */
  final case class CommitInfo(version: Long, op: String,
                              adds: Int, removes: Int, changeFiles: Int,
                              reset: Boolean, schemaChange: Boolean,
                              txns: Seq[String], timestampMs: Long)

  /** DESCRIBE HISTORY — the commit log as data, newest first: every
    * SURVIVING version's operation (the writer-stamped `op=` action;
    * commits from before the stamp — or hand-written logs — classify
    * from their action shape: reset → REPLACE, removes → REWRITE,
    * adds → APPEND, else MARKERS), its action census, and its
    * wall-clock time (manifest mtime, the [[versionAtTimestamp]]
    * clock). Metadata-only: O(surviving manifests) small files, zero
    * data reads — what an operator pages through before trusting a
    * RESTORE target or auditing who deleted what, when. */
  def history(dir: String, limit: Int = Int.MaxValue): Seq[CommitInfo] = {
    val o = io(dir)
    // the repaired clock, not raw mtimes: history's timestamps must
    // agree with what versionAtTimestamp/readAsOf would resolve
    val clock = repairedCommitTimes(dir).toMap
    clock.keys.toSeq.sortBy(-_).take(limit)
      .map { v =>
        val lines = readLog(o, new HPath(o.manifest, s"v$v.manifest"), v)
        val adds = lines.count(_.startsWith("add="))
        val removes = lines.count(_.startsWith("remove="))
        val cdfs = lines.count(_.startsWith("cdf="))
        val reset = lines.contains("reset")
        val op = lines.find(_.startsWith("op=")).map(_.stripPrefix("op="))
          .getOrElse(
            if (reset) "REPLACE"
            else if (removes > 0) "REWRITE"
            else if (adds > 0) "APPEND"
            else "MARKERS")
        CommitInfo(v, op, adds, removes, cdfs, reset,
          lines.exists(_.startsWith("schema=")),
          lines.collect { case l if l.startsWith("txn=") => l.stripPrefix("txn=") },
          clock(v))
      }
  }

  /** Read a snapshot: exactly the manifest-listed files, nothing else.
    * When the log records a schema ([[appendEvolving]]), the read is
    * pinned to the schema AS OF the target version: columns a file
    * predates resolve to NULL (parquet schema evolution), columns a
    * later version added are absent from an older snapshot. */
  def read(spark: SparkSession, dir: String,
           version: Option[Long] = None): DataFrame = {
    val st = snapshotAt(dir, version)._2
    maskedRead(spark, dir, st, st.files.map(_.rel))
  }

  /** Stage `df` as parquet under a fresh txn dir; returns the
    * data-relative part-file paths. */
  private def stageFilesRaw(df: DataFrame, dir: String): Seq[String] = {
    val txn = s"txn-${UUID.randomUUID()}"
    val o = io(dir)
    val stage = new HPath(o.data, txn)
    df.write.parquet(stage.toString)
    o.list(stage).map(_.getPath.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      .map(n => s"$txn/$n").sorted
  }

  /** Rename logical columns to their physical names before a write —
    * the inverse of [[logicalize]]; columns outside the mapping
    * (`_change_type`) pass through. */
  private def physicalize(df: DataFrame,
                          mapping: Option[Seq[(String, String)]]): DataFrame =
    mapping match {
      case None => df
      case Some(m) =>
        import org.apache.spark.sql.functions.col
        val byLogical = m.toMap
        df.select(df.columns.map(c =>
          col(c).as(byLogical.getOrElse(c, c))).toSeq: _*)
    }

  private def stageFiles(df: DataFrame, dir: String): Seq[String] =
    stageFilesRaw(physicalize(df, columnMapping(dir)), dir)

  /** Stage `df` as parquet and commit it appended to the latest
    * snapshot. Returns the committed version. Retries on version
    * conflicts; the staged files are written exactly once. */
  def append(spark: SparkSession, df: DataFrame, dir: String): Long =
    commit(dir, stageFiles(df, dir).map("add=" + _) :+ "op=APPEND").get

  /** Legal stats-column names: anything else could collide with the
    * log's own `|` / `:` delimiters and write an entry that only
    * fails at snapshot-read time as "corrupt stat segment". */
  private val StatColName = "[A-Za-z0-9_]+".r

  // ── string bounds (Iceberg-style truncation) ────────────────────
  // String stats compare in UTF-8 BYTE order — the SAME order Spark's
  // min/max aggregate uses on strings (UTF8String's binary
  // comparator) — so a recorded bound is exactly consistent with the
  // scan that produced it. Bounds are truncated to 16 bytes: the min
  // truncates plainly (a byte-prefix is ≤ everything it prefixes);
  // the max truncates then INCREMENTS its last non-0xFF byte (bytes
  // after it drop) so it stays an upper bound — Iceberg's
  // truncateStringMax. An all-0xFF prefix cannot be bumped: no upper
  // bound is recorded and the file is never pruned. Bounds are stored
  // hex-encoded (`sstat=<col>:<minhex>:<maxhex>`) so arbitrary bytes
  // can never collide with the log's own delimiters.
  private val StringStatTruncBytes = 16

  private[graft] def utf8Lex(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < a.length && i < b.length) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  private[graft] def truncMinUtf8(s: String): Array[Byte] =
    s.getBytes("UTF-8").take(StringStatTruncBytes)

  private[graft] def truncMaxUtf8(s: String): Option[Array[Byte]] = {
    val b = s.getBytes("UTF-8")
    if (b.length <= StringStatTruncBytes) Some(b)
    else {
      val t = b.take(StringStatTruncBytes)
      var i = t.length - 1
      while (i >= 0 && (t(i) & 0xff) == 0xff) i -= 1
      if (i < 0) None
      else Some(t.take(i + 1).updated(i, (t(i) + 1).toByte))
    }
  }

  private[graft] def hex(b: Array[Byte]): String =
    b.map("%02x".format(_)).mkString
  private[graft] def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** Compute `add=` actions for freshly staged files, recording each
    * file's exact row count and per-column (min, max) of the given
    * long/int/string columns — Iceberg-style multi-column bounds. One
    * aggregation pass over the staged batch (grouped by input file),
    * O(batch) like the commit. Zero-row part files are DROPPED from
    * the actions: they carry no data, and a stats-less entry would
    * never be pruned out of any future plan. `bloomsOf` gives a file
    * name's Bloom segments ([[appendWithBloom]]). */
  private def statAddActions(spark: SparkSession, dir: String,
                             rels: Seq[String], statCols: Seq[String],
                             bloomsOf: String => Seq[(String, String)] = _ => Nil)
      : Seq[String] = {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    import ManifestEntry.{LongBounds, StringBounds}
    if (rels.isEmpty) return Nil
    statCols.foreach { c =>
      require(StatColName.matches(c),
        s"stats column name '$c' must match [A-Za-z0-9_]+ — " +
          "'|' or ':' would corrupt the manifest entry")
    }
    // ONE reader over the staged paths serves both the up-front type
    // validation (an unsupported stats column would ClassCastException
    // mid-collect otherwise) and the min/max aggregation
    val staged = spark.read.parquet(
      rels.map(r => dataPath(dir, r)): _*)
    // stats are keyed by PHYSICAL column names (staged files carry
    // physical columns) — which is what lets pruning survive a rename.
    // Resolve the mapping ONCE (one fold), not once per column.
    val mapping = columnMapping(dir)
    val statPhys = statCols.map(physicalName(mapping, _))
    val typeOf: Map[String, org.apache.spark.sql.types.DataType] =
      statPhys.map { c =>
        val f = staged.schema.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"stats column '$c' is not in the staged batch's schema " +
              s"(${staged.schema.fieldNames.mkString(", ")})"))
        require(f.dataType == LongType || f.dataType == IntegerType ||
            f.dataType == StringType,
          s"stats column '$c' must be long, int or string, " +
            s"found ${f.dataType.simpleString} (store timestamps as epoch longs)")
        c -> f.dataType
      }.toMap
    import org.apache.spark.sql.functions.{count, lit}
    // row count first, then per-column bounds — the exact count feeds
    // [[countMeta]]'s metadata-only aggregates at zero extra passes.
    // Integer columns record as longs (their order embeds); string
    // columns record truncated UTF-8 byte bounds.
    val aggs = count(lit(1)).as("_rows") +: statPhys.flatMap(c =>
      Seq(min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c")))
    val byFile = staged
      .groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // one row per non-empty staged part file — batch-bounded
      .map { r =>
        val name = new HPath(r.getString(0)).getName
        // an all-NULL column in a part file has null bounds — record
        // no stat for that (file, column); unknown ranges never prune
        val bounds = statPhys.zipWithIndex.collect {
          case (c, i) if !r.isNullAt(2 + 2 * i) && !r.isNullAt(3 + 2 * i) =>
            c -> (typeOf(c) match {
              case LongType => LongBounds(r.getLong(2 + 2 * i), r.getLong(3 + 2 * i))
              case IntegerType =>
                LongBounds(r.getInt(2 + 2 * i).toLong, r.getInt(3 + 2 * i).toLong)
              case _ => StringBounds(r.getString(2 + 2 * i), r.getString(3 + 2 * i))
            })
        }
        name -> ((r.getLong(1), bounds))
      }.toMap
    rels.flatMap { rel =>
      // absent from byFile ⇒ the part file holds zero rows: skip it
      val name = rel.split('/').last
      byFile.get(name).map { case (rows, bounds) =>
        "add=" + ManifestEntry.render(rel, rows, bounds, bloomsOf(name))
      }
    }
  }

  /** `add=` actions for freshly staged files: with stats when
    * `statCols` are given ([[statAddActions]]), bare paths otherwise. */
  private def addActions(spark: SparkSession, dir: String,
                         staged: Seq[String], statCols: Seq[String]): Seq[String] =
    if (statCols.nonEmpty) statAddActions(spark, dir, staged, statCols)
    else staged.map("add=" + _)

  /** Live files with their per-column TRUNCATED string bounds (min
    * bytes, bumped max bytes) recorded by string `statCols`; empty map
    * for files without string stats. */
  def snapshotFilesWithStringStats(dir: String, version: Option[Long] = None)
      : Seq[(String, Map[String, (Array[Byte], Array[Byte])])] =
    fold(dir, resolved(dir, version)).files.map(e => (e.rel, e.stringStats))

  /** May `e` hold a `phys` value in the UTF-8 byte range `[lo, hi]`?
    * Yes unless its recorded truncated bounds say otherwise. */
  private def overlapsString(e: ManifestEntry, phys: String,
                             lo: Array[Byte], hi: Array[Byte]): Boolean =
    e.stringStats.get(phys).forall { case (mn, mx) =>
      utf8Lex(mx, lo) >= 0 && utf8Lex(mn, hi) <= 0 }

  /** Files the latest snapshot plans for a string range `[lo, hi]` on
    * `statCol`: recorded truncated bounds overlap in UTF-8 byte order,
    * plus every file without string stats for the column. */
  def plannedFilesForStringRange(dir: String, statCol: String,
                                 lo: String, hi: String): Seq[String] = {
    val st = snapshotAt(dir, None)._2
    val phys = physicalIn(st, statCol)
    st.files.filter(overlapsString(_, phys, lo.getBytes("UTF-8"), hi.getBytes("UTF-8")))
      .map(_.rel)
  }

  /** String-range read with file skipping — [[readRange]]'s string
    * twin: plan only [[plannedFilesForStringRange]] and apply the
    * residual row filter. */
  def readRangeString(spark: SparkSession, dir: String, statCol: String,
                      lo: String, hi: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val planned = plannedFilesForStringRange(dir, statCol, lo, hi)
    if (planned.isEmpty) emptyRead(spark, dir, None, "readRangeString")
    else maskedSnapshotRead(spark, dir, None, planned)
      .filter(col(statCol) >= lo && col(statCol) <= hi)
  }

  /** [[append]] that also records the batch's schema as the table's
    * CURRENT schema (`schema=` action) — the add-column evolution
    * commit (Delta's mergeSchema shape). Readers at or past this
    * version resolve every file against the recorded schema: files
    * from BEFORE the evolution read their missing columns as NULL;
    * time travel to an older version presents the older schema.
    * Evolution must be additive on the shared columns (same name ⇒
    * same type) — enforced here against the previous recorded or
    * inferred schema, so an incompatible batch fails BEFORE it
    * commits, not at some later read. Optional `statCols` record
    * per-file bounds exactly like [[appendWithStats]] — stats on a
    * freshly added column start at this commit (earlier files carry
    * no bounds for it and are never pruned by it). */
  def appendEvolving(spark: SparkSession, df: DataFrame, dir: String,
                     statCols: String*): Long = {
    val prior: Option[org.apache.spark.sql.types.StructType] =
      if (latestVersion(dir).isEmpty) None
      else tableSchema(dir).orElse {
        // non-evolved table: infer from the live files — but a
        // delete-everything can leave a ZERO-file snapshot, which is
        // schema-fresh (parquet would throw 'unable to infer schema')
        val files = snapshotFiles(dir)
        if (files.isEmpty) None else Some(read(spark, dir).schema)
      }
    prior.foreach { p =>
      p.fields.foreach { f =>
        df.schema.find(_.name == f.name).foreach { g =>
          require(g.dataType == f.dataType,
            s"schema evolution must not change types: column '${f.name}' " +
              s"is ${f.dataType.simpleString}, batch has ${g.dataType.simpleString}")
        }
        require(df.schema.fieldNames.contains(f.name),
          s"schema evolution is additive: batch drops column '${f.name}'")
      }
    }
    // on a COLUMN-MAPPED table, brand-new columns get FRESH physical
    // names — a column re-added after a drop must never resurrect the
    // dropped physical bytes through old files
    val mapping = columnMapping(dir)
    val (stagedDf, mapActions) = mapping match {
      case None => (df, Nil)
      case Some(m) =>
        val known = m.map(_._1).toSet
        val extended = m ++ df.schema.fieldNames.filterNot(known.contains)
          .map(n => (n, s"${n}_${UUID.randomUUID().toString.take(8).replace("-", "")}"))
        (physicalize(df, Some(extended)),
          Seq("colmap=" + encodeMapping(extended)))
    }
    commit(dir, addActions(spark, dir, stageFilesRaw(stagedDf, dir), statCols) ++
      mapActions ++ Seq("schema=" + df.schema.json, "op=APPEND")).get
  }

  /** [[append]] that also records per-file (min, max) of one or more
    * long columns in the manifest — Iceberg-style data skipping:
    * [[readRange]] plans only the files whose recorded range on the
    * queried column overlaps the predicate. Stats cost one pass over
    * the freshly staged batch, O(batch) like the commit itself. */
  def appendWithStats(spark: SparkSession, df: DataFrame, dir: String,
                      statCols: String*): Long = {
    require(statCols.nonEmpty, "appendWithStats needs at least one stats column")
    commit(dir, statAddActions(spark, dir, stageFiles(df, dir), statCols) :+ "op=APPEND").get
  }

  /** Files the latest snapshot plans for a `[lo, hi]` range predicate
    * on `statCol`: files whose recorded range on that column overlaps,
    * plus every file with no stats FOR THAT COLUMN (unknown ranges are
    * never skipped). */
  def plannedFilesForRange(dir: String, statCol: String,
                           lo: Long, hi: Long): Seq[String] = {
    val st = snapshotAt(dir, None)._2
    val phys = physicalIn(st, statCol)
    st.files.filter(overlapsLong(_, phys, lo, hi)).map(_.rel)
  }

  /** May `e` hold a `phys` value in `[lo, hi]`? Yes unless its
    * recorded bounds say otherwise. */
  private def overlapsLong(e: ManifestEntry, phys: String, lo: Long, hi: Long): Boolean =
    e.stats.get(phys).forall { case (mn, mx) => mx >= lo && mn <= hi }

  /** Range read with file skipping: plan only [[plannedFilesForRange]]
    * and apply the residual row filter (file pruning is a superset —
    * the predicate still runs, exactly like parquet row-group skip). */
  def readRange(spark: SparkSession, dir: String, statCol: String,
                lo: Long, hi: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    val planned = plannedFilesForRange(dir, statCol, lo, hi)
    if (planned.isEmpty) emptyRead(spark, dir, None, "readRange")
    else maskedSnapshotRead(spark, dir, None, planned)
      .filter(col(statCol) >= lo && col(statCol) <= hi)
  }

  /** What a read returns when its plan kept no file: an empty frame in
    * the table's schema at `version`. A zero-file snapshot has no
    * schema to offer — fail loudly rather than let parquet throw an
    * opaque path error. */
  private def emptyRead(spark: SparkSession, dir: String,
                        version: Option[Long], what: String): DataFrame = {
    val st = snapshotAt(dir, version)._2
    if (st.files.isEmpty)
      throw new IllegalStateException(
        s"$what on $dir: snapshot holds no data files at all")
    maskedRead(spark, dir, st, Seq(st.files.head.rel))
      .filter(org.apache.spark.sql.functions.lit(false))
  }

  /** Per-file Bloom segments of a snapshot: file → (col → (m, k,
    * hex)), empty map for files committed without a bloom. */
  def snapshotFilesWithBloom(dir: String, version: Option[Long] = None)
      : Seq[(String, Map[String, (Int, Int, String)])] =
    fold(dir, resolved(dir, version)).files.map(e => (e.rel, e.blooms))

  /** [[appendWithStats]] that ALSO records a per-file Bloom filter on
    * `bloomCol` (see [[BloomIndex]]) — the point-lookup index for keys
    * whose min/max bounds cannot prune (high-cardinality values
    * scattered across every file). Bloom build cost is one more
    * codegen'd pass over the staged batch; the filter rides the `add=`
    * entry, so it survives exactly as long as the file does (a
    * copy-on-write rewrite drops it with the entry — rewritten files
    * simply carry no bloom until appended through this path again,
    * and an unknown bloom is never used to skip). `statCols` may be
    * empty: the entry then carries `rows=` + the bloom alone. */
  def appendWithBloom(spark: SparkSession, df: DataFrame, dir: String,
                      bloomCol: String, statCols: String*): Long = {
    require(StatColName.matches(bloomCol),
      s"bloom column name '$bloomCol' must match [A-Za-z0-9_]+")
    val f = df.schema.find(_.name == bloomCol).getOrElse(
      throw new IllegalArgumentException(
        s"bloom column '$bloomCol' is not in the batch's schema"))
    require(f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.StringType,
      s"bloom column '$bloomCol' must be long or string, " +
        s"found ${f.dataType.simpleString}")
    val staged = stageFiles(df, dir)
    // staged files carry PHYSICAL names; the bloom segment is keyed by
    // the physical name too (plannedFilesForPoint translates)
    val physBloom = physicalName(columnMapping(dir), bloomCol)
    val blooms = BloomIndex.buildPerFile(
      spark.read.parquet(staged.map(r => dataPath(dir, r)): _*),
      physBloom)
    // a file with no bloom (all-NULL key) is never skipped
    commit(dir, statAddActions(spark, dir, staged, statCols,
      name => blooms.get(name).map(physBloom -> _).toSeq) :+ "op=APPEND").get
  }

  /** Files the snapshot plans for an equality lookup `col = value`:
    * files whose Bloom filter says maybe, plus every file with no
    * bloom FOR THAT COLUMN (unknown is never skipped). No false
    * negatives by the [[BloomIndex]] contract, so the planned set is
    * always a superset of the files that actually hold the value. */
  def plannedFilesForPoint(dir: String, colName: String, value: Long,
                           version: Option[Long] = None): Seq[String] =
    plannedFilesForPointAny(dir, colName, value, version)

  /** [[plannedFilesForPoint]] for a STRING key — the URL/doc-hash
    * lookup shape a crawl warehouse needs (min/max bounds cannot
    * prune high-cardinality strings scattered across every file;
    * per-file blooms can). Same machinery: xxhash64 dispatches on the
    * value's type inside the one shared expression. */
  def plannedFilesForPointString(dir: String, colName: String, value: String,
                                 version: Option[Long] = None): Seq[String] =
    plannedFilesForPointAny(dir, colName, value, version)

  private def plannedFilesForPointAny(dir: String, colName: String, value: Any,
                                      version: Option[Long]): Seq[String] = {
    val st = snapshotAt(dir, version)._2
    val phys = physicalIn(st, colName)
    st.files.filter(_.blooms.get(phys).forall {
      case (m, _, hex) => BloomIndex.maybeContains(hex, m, value)
    }).map(_.rel)
  }

  /** Point-lookup read with Bloom file skipping: plan only
    * [[plannedFilesForPoint]] and apply the residual equality filter
    * (bloom false positives are filtered out here, exactly like
    * readRange's residual). */
  def readPoint(spark: SparkSession, dir: String, colName: String,
                value: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    val planned = plannedFilesForPoint(dir, colName, value)
    if (planned.isEmpty) emptyRead(spark, dir, None, "readPoint")
    else maskedSnapshotRead(spark, dir, None, planned)
      .filter(col(colName) === value)
  }

  /** [[readPoint]] for a STRING key: bloom-planned files + the
    * residual equality filter. */
  def readPointString(spark: SparkSession, dir: String, colName: String,
                      value: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val planned = plannedFilesForPointString(dir, colName, value)
    if (planned.isEmpty) emptyRead(spark, dir, None, "readPointString")
    else maskedSnapshotRead(spark, dir, None, planned)
      .filter(col(colName) === value)
  }

  /** Exactly-once streaming append (the Delta `txn` appId/version
    * pattern): commit `df` tagged `txn=<writer>:<batchId>`; if the
    * latest snapshot already carries that marker — a foreachBatch
    * RETRY of a batch whose commit landed before the failure — skip,
    * leaving the table unchanged. The check re-runs inside the commit
    * retry loop, so a concurrent duplicate of the same batch cannot
    * slip past a version conflict. Returns the version, None if
    * skipped as already-committed. */
  def appendIdempotent(spark: SparkSession, df: DataFrame, dir: String,
                       writer: String, batchId: Long): Option[Long] = {
    if (committedBatches(dir, writer).contains(batchId)) return None
    commit(dir, stageFiles(df, dir).map("add=" + _) ++
        Seq(s"txn=$writer:$batchId", "op=APPEND"),
      skipIfTxn = Some((writer, batchId)))
  }

  /** Rewrite the current snapshot into `targetFiles` files and commit
    * a REPLACING (`reset`+adds) manifest — the compaction half of the
    * protocol. The replace must not erase a concurrent append, so the
    * commit is pinned to the exact version that was read: if any other
    * commit lands first, the attempt aborts and the whole rewrite
    * restarts from the new latest (optimistic concurrency, the same
    * rule Delta applies to full-table rewrites). Older versions keep
    * folding to their own file lists — time travel is intact until
    * [[vacuum]] — and txn idempotence markers survive by construction
    * (`reset` clears files, never markers). */
  def compact(spark: SparkSession, dir: String, targetFiles: Int = 1): Long =
    compactClustered(spark, dir, targetFiles, Nil)

  /** [[compact]] that also CLUSTERS the rewrite and re-records column
    * stats — the Delta OPTIMIZE ZORDER shape: rows are range-
    * partitioned then sorted within files on `statCols`, so the
    * rewritten files carry tight disjoint per-column bounds and
    * [[readRange]] pruning SURVIVES (plain compaction leaves unknown
    * ranges — correct but never skippable). Same optimistic-
    * concurrency rule as compact. */
  def compactClustered(spark: SparkSession, dir: String, targetFiles: Int,
                       statCols: Seq[String]): Long = {
    import org.apache.spark.sql.functions.col
    retrying(dir, "compacting") {
      val parent = latestVersion(dir).getOrElse(
        throw new IllegalStateException(s"nothing to compact in $dir"))
      val snap = read(spark, dir, Some(parent))
      val clustered =
        if (statCols.isEmpty) snap.repartition(targetFiles)
        else snap.repartitionByRange(targetFiles, statCols.map(col): _*)
          .sortWithinPartitions(statCols.map(col): _*)
      val staged =
        stageFilesRaw(physicalize(clustered, columnMapping(dir, Some(parent))), dir)
      // a commit on top of `parent` beats us: replacing now would erase
      // its rows — the stale rewrite is dropped and restarts from the
      // new latest
      tryCommitAt(dir, parent + 1L,
        ("reset" +: addActions(spark, dir, staged, statCols)) :+ "op=COMPACT")
        .toRight(staged)
    }
  }

  /** INCREMENTAL compaction — the real Delta/Iceberg OPTIMIZE shape:
    * bin-pack ONLY the live files smaller than `minBytes` into
    * `targetFiles` outputs and commit per-file `remove=` + `add=`
    * actions; files already at a healthy size are NOT touched (their
    * entries, stats and bytes survive verbatim). [[compact]]'s
    * full-snapshot `reset` rewrite costs O(table) data movement every
    * time — correct for a one-off re-layout, wrong for the steady
    * state, where a streaming sink drips small files forever and
    * maintenance must stay O(small files). A `reset`-free commit also
    * keeps the CHANGE FEED alive: readers of [[readSince]]/
    * [[readChanges]] refuse reset commits, but a remove+add rewrite
    * that moves no rows is data-preserving... and still refused
    * (feeds cannot verify that claim from metadata) — so run
    * compaction BETWEEN feed polls, exactly as Delta documents.
    * Optimistic concurrency: pinned to the planned version, rebased
    * over concurrent pure appends, re-planned after another rewrite.
    * Returns None when fewer than 2 files qualify (nothing to pack —
    * an empty OPTIMIZE must not advance the log). `statCols` re-record
    * bounds on the packed output so pruning survives. */
  def compactSmall(spark: SparkSession, dir: String, minBytes: Long,
                   targetFiles: Int = 1,
                   statCols: Seq[String] = Nil): Option[Long] =
    retrying(dir, "bin-packing") {
      val parent = resolved(dir, None)
      val o = io(dir)
      val stDv = fold(dir, parent)
      // DV-carrying files are ALWAYS eligible regardless of size:
      // OPTIMIZE is the op that materializes deletion vectors away
      // (the rewrite drops masked rows; the remove= drops the mask) —
      // Delta's PURGE semantics ride its OPTIMIZE the same way.
      val small = stDv.files.map(_.rel)
        .filter { rel =>
          stDv.dvs.contains(rel) || {
            try o.fs.getFileStatus(new HPath(o.data, rel)).getLen < minBytes
            catch { case _: java.io.FileNotFoundException => false }
          }
        }
      // pack when ≥2 files qualify, OR a single file needs its mask
      // materialized — but never advance the log for nothing
      if (small.isEmpty ||
        (small.size < 2 && !small.exists(stDv.dvs.contains))) Right(None)
      else {
        val staged = stageFiles(
          maskedRead(spark, dir, stDv, small).repartition(targetFiles), dir)
        commitRewrite(dir, parent, small.sorted.map("remove=" + _) ++
          addActions(spark, dir, staged, statCols) :+ "op=OPTIMIZE", staged)
      }
    }

  /** True iff every commit in `[from, to]` COMMUTES with a rewrite
    * that touches exactly `touched` files — the Delta disjoint-file-
    * set conflict rule. Pure appends always commute (they cannot
    * reference pre-existing files; the rewrite's predicate answers
    * are monotone under concurrent row removal, WriteSerializable
    * semantics). A concurrent `remove=`/`dv=` ALSO commutes when its
    * file is OUTSIDE `touched`: two GDPR deletes on disjoint files
    * both land without either redoing its scan. Overlapping
    * removes/masks, `reset`, and schema/mapping changes force the
    * caller to re-plan. */
  private def commutesWithRewrite(dir: String, from: Long, to: Long,
                                  touched: Set[String]): Boolean = {
    val o = io(dir)
    (from to to).forall { v =>
      val mf = new HPath(o.manifest, s"v$v.manifest")
      o.exists(mf) && readLog(o, mf, v).forall { l =>
        if (l.startsWith("add=") || l.startsWith("txn=") ||
          l.startsWith("cdf=") || l.startsWith("op=")) true
        else if (l.startsWith("remove="))
          !touched.contains(l.stripPrefix("remove="))
        else if (l.startsWith("dv="))
          !touched.contains(splitDv(l)._1)
        else false // reset / schema= / colmap= / unknown: re-plan
      }
    }
  }

  private[graft] sealed trait RewriteResult
  private[graft] case class RewriteCommitted(version: Long) extends RewriteResult
  private[graft] case object RewriteSkippedTxn extends RewriteResult
  private[graft] case object RewriteConflict extends RewriteResult

  /** Commit copy-on-write rewrite actions (`remove=`/`dv=` + `add=`)
    * first at `parent + 1`, then — as long as every commit that beat
    * us COMMUTES ([[commutesWithRewrite]]: pure appends, and removes/
    * masks on files DISJOINT from ours — the Delta conflict rule) —
    * rebased onto each new latest without redoing the scan.
    * `skipIfTxn` is re-checked after every lost race (the commit that
    * beat us may be a duplicate of this very batch). Returns
    * [[RewriteConflict]] only when a non-commuting commit (reset, an
    * OVERLAPPING remove/mask, a schema or mapping change) intervened:
    * the caller must re-plan from the new snapshot. Package-visible
    * for the deterministic rebase spec. */
  private[graft] def commitRewriteRebasing(dir: String, parent: Long,
                                           actions: Seq[String],
                                           skipIfTxn: Option[(String, Long)] = None)
      : RewriteResult = {
    // the files THIS rewrite depends on: what it removes or masks — a
    // concurrent commit touching any of them invalidates the staged
    // survivors; anything else commutes
    val touched: Set[String] = actions.collect {
      case l if l.startsWith("remove=") => l.stripPrefix("remove=")
      case l if l.startsWith("dv=") => splitDv(l)._1
    }.toSet
    var at = parent + 1L
    while (true) {
      tryCommitAt(dir, at, actions) match {
        case Some(v) => return RewriteCommitted(v)
        case None =>
          skipIfTxn.foreach { case (w, b) =>
            if (committedBatches(dir, w).contains(b)) return RewriteSkippedTxn
          }
          val latest = resolved(dir, None)
          if (!commutesWithRewrite(dir, at, latest, touched))
            return RewriteConflict
          at = latest + 1L
      }
    }
    RewriteConflict // unreachable
  }

  /** [[commitRewriteRebasing]] as one [[retrying]] attempt: Some(v)
    * once committed, None when `skipIfTxn` says the batch already
    * landed (its staged files are dropped), Left(staged) when a
    * non-commuting commit forces a re-plan. */
  private def commitRewrite(dir: String, parent: Long, actions: Seq[String],
                            staged: Seq[String],
                            skipIfTxn: Option[(String, Long)] = None)
      : Either[Seq[String], Option[Long]] =
    commitRewriteRebasing(dir, parent, actions, skipIfTxn) match {
      case RewriteCommitted(v) => Right(Some(v))
      case RewriteSkippedTxn => dropStaged(dir, staged); Right(None)
      case RewriteConflict => Left(staged)
    }

  /** The retry loop of every operation that plans against a pinned
    * snapshot and may lose its commit: `attempt` plans, stages and
    * commits under the operation's own commit rule ([[tryCommitAt]] at
    * `parent + 1`, or [[commitRewrite]]), answering Right(result) when
    * the operation is over — committed, or nothing to do — or
    * Left(staged rels) when a conflicting commit beat it. Those staged
    * files can never commit (they may hold rows the winner removed):
    * their txn dirs go, and the next attempt re-plans from the new
    * latest. */
  private def retrying[T](dir: String, what: String)
                         (attempt: => Either[Seq[String], T]): T = {
    var attempts = 0
    while (attempts < 20) {
      attempts += 1
      attempt match {
        case Right(result) => return result
        case Left(staged) => dropStaged(dir, staged)
      }
    }
    throw new IllegalStateException(s"gave up $what $dir after 20 conflicts")
  }

  /** Drop the txn dirs of staged data-relative files. */
  private def dropStaged(dir: String, staged: Seq[String]): Unit =
    staged.map(_.takeWhile(_ != '/')).distinct.foreach(dropStagedDir(dir, _))

  /** [[compact]] that Z-ORDER clusters the rewrite — the Delta
    * OPTIMIZE ZORDER maintenance op on a LIVE table (the layout
    * `compactClustered`'s hierarchical sort cannot give): each row's
    * (`colA`, `colB`) values are min/max-normalized against the
    * snapshot's global bounds and Morton-interleaved into one Z-value
    * ([[graft.operators.Layout.zValue]] — the overflow-safe,
    * separately-spec'd machinery); the rewrite range-partitions and
    * sorts on that Z-value and re-records stats on BOTH columns.
    * Files then carry bounds that are tight in EVERY clustered
    * dimension simultaneously, so multi-predicate range plans prune
    * in all of them — a hierarchical sort is tight only in its
    * leading column. Global bounds come straight from the manifest's
    * per-file stats when every live file records them (a
    * metadata-only plan, even across concurrency retries). NULLs
    * bucket at the low edge (they cluster together and never widen
    * another file's bounds). Same replacing-commit +
    * optimistic-concurrency rule as [[compact]]. */
  def compactZorder(spark: SparkSession, dir: String, targetFiles: Int,
                    colA: String, colB: String): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, max, min}
    val zCols = Seq(colA, colB)
    retrying(dir, "z-ordering") {
      val parent = latestVersion(dir).getOrElse(
        throw new IllegalStateException(s"nothing to compact in $dir"))
      val snap = read(spark, dir, Some(parent))
      zCols.foreach { c =>
        require(snap.schema(c).dataType == org.apache.spark.sql.types.LongType,
          s"z column '$c' must be LongType")
      }
      // global bounds come from the MANIFEST when every live file
      // carries stats for both columns (zero Spark jobs — and retries
      // under contention stay metadata-only); one scan otherwise
      val st = fold(dir, parent)
      val statted = st.files.map(_.stats)
      val (physA, physB) = (physicalIn(st, colA), physicalIn(st, colB))
      val bounds: Option[(Long, Long, Long, Long)] =
        if (statted.nonEmpty &&
            statted.forall(e => Seq(physA, physB).forall(e.contains))) Some((
          statted.map(_(physA)._1).min, statted.map(_(physA)._2).max,
          statted.map(_(physB)._1).min, statted.map(_(physB)._2).max))
        else {
          val b = snap.agg(min(col(colA)), max(col(colA)),
            min(col(colB)), max(col(colB))).head()
          if (b.isNullAt(0) || b.isNullAt(2)) None // a column is all-NULL
          else Some((b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3)))
        }
      // a helper name that cannot clobber table data
      var zName = "_z"
      while (snap.columns.contains(zName)) zName += "_"
      val clustered = bounds match {
        case Some((aLo, aHi, bLo, bHi)) =>
          // overflow-safe normalize + Morton interleave from the
          // spec'd Layout machinery (double-cast before the multiply;
          // constant-dimension guard); NULLs bucket at the low edge
          snap.withColumn(zName, graft.operators.Layout.zValue(
              coalesce(col(colA), lit(aLo)), lit(aLo), lit(aHi),
              coalesce(col(colB), lit(bLo)), lit(bLo), lit(bHi)))
            .repartitionByRange(targetFiles, col(zName))
            .sortWithinPartitions(col(zName))
            .drop(zName)
        case None => snap.repartition(targetFiles) // degenerate: no usable axis
      }
      val staged = stageFilesRaw(physicalize(clustered, mappingOf(st)), dir)
      // a commit beat us: re-cluster the new latest
      tryCommitAt(dir, parent + 1L,
        ("reset" +: statAddActions(spark, dir, staged, zCols)) :+ "op=ZORDER")
        .toRight(staged)
    }
  }

  /** RESTORE the table to the state it had at `toVersion` — the Delta
    * RESTORE lifecycle op (the undo for a bad delete/merge/compaction):
    * commits a NEW replacing version whose file list is the target
    * snapshot's entries VERBATIM (column stats, row counts and bloom
    * segments ride along untouched — pruning survives the restore),
    * so the log stays strictly forward (nothing is rewound or erased;
    * an auditor still sees the bad commit and its undo). No data
    * moves: the target's files are still on disk because [[vacuum]]
    * only deletes files unreferenced by SURVIVING versions, and a
    * vacuumed-away target fails loudly in the fold ("version missing")
    * before anything commits.
    *
    * Schema: the restored version presents the schema AS OF the
    * target. A later `schema=` evolution action would survive a bare
    * `reset` (reset clears files, never schema), so the restore
    * explicitly reinstates the target's schema — recorded if the
    * target had one, re-inferred from the target's files when the
    * table evolved only after the target (ambiguous only for a
    * zero-file target, which throws).
    *
    * Txn idempotence markers survive (they always do): a streaming
    * batch that committed before the restored-away range stays a
    * no-op on retry — Delta's rule; the writer must use fresh batch
    * ids to re-deliver.
    *
    * Concurrency: pinned to the version that was read (a replacing
    * commit must never erase a concurrent append — same rule as
    * [[compact]]); on a lost race the restore re-reads and re-commits,
    * metadata-only every time. Metadata is O(target snapshot) — the
    * checkpoint cost, inherent to a replacing commit. Restoring to
    * the current version is a no-op and commits nothing. */
  def restore(spark: SparkSession, dir: String, toVersion: Long): Long =
    retrying(dir, "restoring") {
      val parent = resolved(dir, None)
      require(toVersion >= 0 && toVersion <= parent,
        s"restore target v$toVersion is outside the committed log (latest v$parent)")
      if (toVersion == parent) Right(parent)
      else {
        val target = fold(dir, toVersion)
        val current = fold(dir, parent)
        val schemaAction: Seq[String] = target.schema match {
          case Some(j) => Seq("schema=" + j)
          case None if current.schema.isDefined =>
            // the evolution happened after the target: pin the target's
            // effective (file) schema so post-restore reads don't resolve
            // against the later evolution's surviving schema= action
            if (target.files.isEmpty)
              throw new IllegalStateException(
                s"restore of $dir to v$toVersion: the target snapshot holds no " +
                  "files and recorded no schema, but the table evolved later — " +
                  "the restored schema is undefined")
            Seq("schema=" + spark.read.parquet(
              target.files.map(e => dataPath(dir, e.rel)): _*).schema.json)
          case None => Nil
        }
        val colmapAction: Seq[String] = (target.colmap, current.colmap) match {
          case (Some(m), _) => Seq("colmap=" + m)
          case (None, Some(_)) => Seq("colmap=-") // target predates mapping
          case _ => Nil
        }
        val actions = ("reset" +: (schemaAction ++ colmapAction ++
          target.files.map("add=" + _.raw) ++
          target.dvs.toSeq.sortBy(_._1).map((dvAction _).tupled))) :+
          s"op=RESTORE(v$toVersion)"
        // a commit beat us: re-pin against the new latest (nothing staged)
        tryCommitAt(dir, parent + 1L, actions).toRight(Nil)
      }
    }

  /** Row-level DELETE, copy-on-write (the Delta/Iceberg shape — the
    * GDPR/takedown primitive a training-data warehouse cannot ship
    * without): plan the files that hold matching rows, rewrite ONLY
    * those files minus the matches, and commit per-file `remove=`
    * actions plus the survivors' `add=`s — metadata is **O(affected
    * files)**, never O(live files); a millionth-file table's
    * single-file delete writes a three-line manifest. Untouched files
    * are never mentioned, so their entries (column stats included)
    * survive verbatim in the fold; rewritten files get fresh stats on
    * `statCols` so [[readRange]] pruning survives the delete. Time
    * travel to pre-delete versions still folds to the old file list —
    * physical erasure is [[vacuum]]'s job, exactly as in Delta.
    *
    * Concurrency: the commit is pinned to the version that was read;
    * a concurrent PURE APPEND commutes (it cannot reference the
    * rewritten files) and the delete rebases on top without redoing
    * the scan, while a concurrent reset/remove forces a full re-plan
    * from the new snapshot — a concurrent append is never erased.
    *
    * Scale shape: the affected-file scan is one pass with the
    * predicate pushed to parquet; the rewrite touches only affected
    * files' rows; commit metadata is O(affected). With `cdf = true`
    * the commit also records the deleted rows as change-data files
    * (`cdf=` actions, `_change_type = 'delete'`) so [[readChanges]]
    * can serve the delete to downstream consumers — GDPR erasure then
    * PROPAGATES instead of stranding derived tables. Returns the
    * committed version, or None when nothing matched (no commit —
    * a delete of nothing must not advance the log).
    *
    * `dvFraction` > 0 enables MERGE-ON-READ deletion vectors: any
    * affected file whose matched fraction is at or below the
    * threshold commits an O(matched rows) `dv=` position mask instead
    * of a rewrite (readers anti-apply the mask in-scan; see
    * [[maskedRead]]); heavier files still rewrite. OPTIMIZE
    * ([[compactSmall]]) materializes masks away. */
  def deleteWhere(spark: SparkSession, dir: String,
                  predicate: org.apache.spark.sql.Column,
                  statCols: Seq[String] = Nil,
                  cdf: Boolean = false,
                  dvFraction: Double = 0.0): Option[Long] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    require(dvFraction >= 0.0 && dvFraction <= 1.0,
      s"dvFraction must be in [0, 1], got $dvFraction")
    retrying(dir, "deleting from") {
      val parent = resolved(dir, None)
      val st = fold(dir, parent)
      val rels: Seq[String] = st.files.map(_.rel)
      val rowsOf: Map[String, Long] = st.files.flatMap(e => e.rows.map(e.rel -> _)).toMap
      val hit = coalesce(predicate, lit(false))
      // one predicate-pushed MASKED scan finds the affected files AND
      // their matched-row counts — result bounded by the file count.
      // Already-masked rows can never re-match.
      val census: Seq[(String, Long)] =
        if (rels.isEmpty) Nil
        else applyMask(spark, keyedRead(spark, dir, st, rels), st.dvs, rels)
          .filter(hit).groupBy(col("_m_rel")).count().collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq
      census.foreach { case (rel, _) =>
        if (!rels.contains(rel)) throw new IllegalStateException(
          s"matched file $rel is not in the snapshot")
      }
      if (census.isEmpty) Right(None)
      else {
        val affected = census.map(_._1).toSet
        // MERGE-ON-READ split (Delta deletion-vector shape): a file whose
        // matched fraction is ≤ dvFraction gets a `dv=` position mask —
        // O(matched rows) bytes committed instead of a full-file rewrite
        // (the 1-row GDPR delete on a 1 GB file stops costing 1 GB of
        // write amplification). Files above the threshold — or without a
        // recorded `rows=` count to judge the fraction by — take the
        // copy-on-write rewrite as before. dvFraction=0 (default)
        // disables DVs entirely: exact legacy behavior.
        // a file takes the DV path only when BOTH the matched fraction
        // is under the threshold AND the absolute mask stays small: the
        // positions of DV-eligible files are collected to the driver
        // and broadcast at read time, so a hard per-file cap
        // ([[DvMaxPositionsPerFile]]) bounds driver memory and broadcast
        // size no matter how large the file — a 1 B-row file at
        // fraction 0.01 would otherwise mask 10 M rows. Files over
        // either limit take the copy-on-write rewrite.
        val (dvSide, rwSide) = census.partition { case (rel, matched) =>
          dvFraction > 0 && matched <= DvMaxPositionsPerFile &&
            rowsOf.get(rel).exists(n =>
              n > 0 && matched.toDouble / n <= dvFraction)
        }
        val dvActions: Seq[String] =
          if (dvSide.isEmpty) Nil
          else {
            val dvRels = dvSide.map(_._1)
            // positions of the matched rows in ONLY the DV-eligible
            // files: collect is bounded by dvFraction × those files' rows
            val posByRel: Map[String, Seq[Long]] =
              applyMask(spark, keyedRead(spark, dir, st, dvRels),
                  st.dvs, dvRels)
                .filter(hit).select(col("_m_rel"), col("_m_pos")).collect()
                .groupBy(_.getString(0))
                .map { case (r, rws) => r -> rws.map(_.getLong(1)).toSeq }
            dvSide.map { case (rel, _) =>
              // cumulative: the new mask carries the file's prior
              // positions too (the latest dv= action REPLACES in the fold)
              val prior = st.dvs.get(rel).map(decodePositions).getOrElse(Nil)
              dvAction(rel, encodePositions(prior ++ posByRel(rel)))
            }.sorted
          }
        // rewrite the copy-on-write files' survivors into fresh staged
        // files. DELETE semantics: only predicate-IS-TRUE rows go; a NULL
        // predicate keeps the row (so !pred alone would over-delete).
        // Masked read: prior DV rows must not resurrect in the rewrite;
        // pinned: affected files may span a schema evolution.
        val rwRels = rwSide.map(_._1)
        val staged: Seq[String] =
          if (rwRels.isEmpty) Nil
          else stageFiles(
            maskedRead(spark, dir, st, rwRels).filter(!hit), dir)
        // change-data feed (opt-in, the Delta enableChangeDataFeed
        // shape): the DELETED rows are written at commit time with a
        // baked-in `_change_type` — O(changed rows), one more
        // predicate-pushed pass over the SAME affected files; read-time
        // diffing of removed-vs-added files would pay an anti-join per
        // feed poll instead
        val cdfStaged: Seq[String] =
          if (!cdf) Nil
          else stageFiles(
            maskedRead(spark, dir, st, affected.toSeq)
              .filter(hit)
              .withColumn("_change_type", lit("delete")),
            dir)
        // a non-commuting commit that lands first may have removed rows
        // the rewrite read: the staged files are dropped and re-planned
        commitRewrite(dir, parent, rwRels.sorted.map("remove=" + _) ++
          addActions(spark, dir, staged, statCols) ++ dvActions ++
          cdfStaged.map("cdf=" + _) :+ "op=DELETE", staged ++ cdfStaged)
      }
    }
  }

  /** Files of snapshot `parent` that may hold rows whose `key` is in
    * `keys` — the MERGE/CDC planning scan: ONE semi-join pass,
    * file-count bounded, and when the table records stats on the key
    * the scan is PRE-PRUNED to files whose key range overlaps the
    * keys' [min, max] (files without key stats always scan — unknown
    * ranges are never skipped). A narrow CDC batch against a
    * key-clustered table then plans its files without touching the
    * rest of the snapshot. */
  private def affectedByKeys(spark: SparkSession, dir: String, parent: Long,
                             st: State,
                             keys: DataFrame, key: String,
                             keyType: org.apache.spark.sql.types.DataType): Set[String] = {
    import org.apache.spark.sql.functions.{col, max, min}
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    if (parent < 0) return Set.empty
    val rels: Set[String] = st.files.map(_.rel).toSet
    // stats are keyed by PHYSICAL name; the batch key is LOGICAL
    val physKey = physicalIn(st, key)
    // pruning path per key type: long/int keys prune on `stat=`
    // bounds, string keys on the truncated `sstat=` byte bounds —
    // anything else (or a stats-less table) scans all files
    val scanRels: Seq[String] =
      if ((keyType == LongType || keyType == IntegerType) &&
          st.files.exists(_.stats.contains(physKey))) {
        val bounds = keys.agg(min(col(key).cast(LongType)), max(col(key).cast(LongType))).head()
        if (bounds.isNullAt(0)) Seq.empty // all-NULL keys match nothing
        else st.files.filter(overlapsLong(_, physKey, bounds.getLong(0), bounds.getLong(1)))
          .map(_.rel)
      } else if (keyType == StringType && st.files.exists(_.stringStats.contains(physKey))) {
        val bounds = keys.agg(min(col(key)), max(col(key))).head()
        if (bounds.isNullAt(0)) Seq.empty
        else st.files.filter(overlapsString(_, physKey,
          bounds.getString(0).getBytes("UTF-8"), bounds.getString(1).getBytes("UTF-8")))
          .map(_.rel)
      } else st.files.map(_.rel)
    if (scanRels.isEmpty) Set.empty
    else
      // pinned reader (via keyedRead): the scanned files may span a
      // schema evolution and the key column must NULL-backfill, not
      // vanish with a sampled pre-evolution footer. The _m_rel file
      // key is bound to the scan, so it resolves through the joins;
      // MASKED: a key whose only occurrence is DV-deleted must not
      // plan its file as affected.
      applyMask(spark,
          keyedRead(spark, dir, st, scanRels), st.dvs, scanRels)
        .join(keys, Seq(key), "left_semi")
        .select(col("_m_rel")).distinct().collect()
        .map(_.getString(0))
        .map(rel => if (rels(rel)) rel else throw new IllegalStateException(
          s"matched file $rel is not in the snapshot")).toSet
  }

  /** UPDATE ... SET ... WHERE — the third DML verb (Delta UPDATE),
    * copy-on-write like [[deleteWhere]]: one predicate-pushed scan
    * plans the affected files, ONLY those files rewrite — matched rows
    * with the `set` expressions applied, survivors verbatim — and the
    * commit carries per-file `remove=` + `add=`, O(affected). SQL
    * UPDATE semantics: a NULL predicate leaves the row unchanged.
    * `set` columns must already exist (UPDATE never evolves schema —
    * that is [[appendEvolving]]'s job) and may reference the row's own
    * columns (`n_chars -> col("n_chars") + 7`). With `cdf = true` the
    * commit records update_preimage/update_postimage change rows for
    * [[readChanges]]. Returns None when nothing matched (no commit). */
  def updateWhere(spark: SparkSession, dir: String,
                  predicate: org.apache.spark.sql.Column,
                  set: Map[String, org.apache.spark.sql.Column],
                  statCols: Seq[String] = Nil,
                  cdf: Boolean = false): Option[Long] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    retrying(dir, "updating") {
      val parent = resolved(dir, None)
      val st = fold(dir, parent)
      val rels: Seq[String] = st.files.map(_.rel)
      // masked scan: DV'd rows can neither match nor resurrect; the
      // _m_rel helper survives the mask's join (input_file_name would
      // not resolve through it)
      val affected: Set[String] =
        if (rels.isEmpty) Set.empty
        else applyMask(spark, keyedRead(spark, dir, st, rels), st.dvs, rels)
          .filter(predicate)
          .select(col("_m_rel")).distinct().collect()
          .map(_.getString(0))
          .map(rel => if (rels.contains(rel)) rel else throw new IllegalStateException(
            s"matched file $rel is not in the snapshot")).toSet
      if (affected.isEmpty) Right(None)
      else {
        // masked + pinned: the rewrite drops any prior DV rows of the
        // affected files for good (the remove= action drops their masks)
        val base = maskedRead(spark, dir, st, affected.toSeq)
        set.keys.foreach { c =>
          require(base.columns.contains(c),
            s"UPDATE SET column '$c' is not in the table (schema evolution is appendEvolving's job)")
        }
        // matched rows take the SET expressions, others pass verbatim;
        // NULL predicate = unchanged (SQL UPDATE), hence the coalesce.
        // ONE projection, every RHS evaluated against the OLD row — a
        // sequential withColumn fold would let `SET a = b, b = a` read
        // a's NEW value, which SQL UPDATE forbids
        val hit = coalesce(predicate, lit(false))
        def applied(df: DataFrame, conditional: Boolean): DataFrame =
          df.select(df.columns.map { c =>
            set.get(c) match {
              case Some(expr) if conditional => when(hit, expr).otherwise(df(c)).as(c)
              case Some(expr) => expr.as(c)
              case None => df(c)
            }
          }.toSeq: _*)
        val rewritten = applied(base, conditional = true)
        val staged = stageFiles(rewritten, dir)
        val cdfStaged: Seq[String] =
          if (!cdf) Nil
          else {
            val matched = base.filter(hit)
            stageFiles(
              matched.withColumn("_change_type", lit("update_preimage"))
                .unionByName(applied(matched, conditional = false)
                  .withColumn("_change_type", lit("update_postimage"))),
              dir)
          }
        commitRewrite(dir, parent, affected.toSeq.sorted.map("remove=" + _) ++
          addActions(spark, dir, staged, statCols) ++
          cdfStaged.map("cdf=" + _) :+ "op=UPDATE", staged ++ cdfStaged)
      }
    }
  }

  /** MERGE INTO (keyed upsert), copy-on-write — the Delta MERGE shape
    * restricted to whole-row `WHEN MATCHED THEN UPDATE SET *` /
    * `WHEN NOT MATCHED THEN INSERT *`: batch rows whose `key` matches
    * a live row REPLACE that row wholesale; the rest are inserted.
    * Planning reuses the delete machinery: one semi-join scan finds
    * the files holding matched rows, ONLY those files are rewritten
    * (their non-matched survivors), the batch lands alongside as
    * fresh rows, and the single commit carries per-file `remove=` +
    * `add=` actions — **O(affected + batch)** metadata, never
    * O(table). Rewritten files get fresh stats on `statCols` so
    * [[readRange]] pruning survives the merge.
    *
    * Concurrency: the [[deleteWhere]] optimistic rule — pinned to the
    * planned version, rebased over concurrent pure appends (they
    * commute with a rewrite of files that predate them), re-planned
    * after a reset/remove. A `txn` (writer, batchId) marker makes a
    * retried streaming MERGE batch a no-op (the [[appendIdempotent]]
    * contract); it is checked before planning and after every lost
    * race, so a concurrent duplicate cannot double-apply.
    *
    * Duplicate keys IN the batch are an error (MERGE's own rule —
    * which copy would win?), raised distributedly during the staged
    * write, before anything commits. With `cdf = true` the commit
    * also records its row changes (`update_preimage` /
    * `update_postimage` / `insert`) as change-data files for
    * [[readChanges]]. Returns the committed version, or None when
    * `txn` says this batch already landed. An empty batch commits
    * nothing (None) unless a `txn` marker must be recorded. The body
    * is [[mergeIntoCdc]]'s, with every batch row an upsert. */
  def mergeInto(spark: SparkSession, dir: String, batch: DataFrame, key: String,
                statCols: Seq[String] = Nil,
                txn: Option[(String, Long)] = None,
                cdf: Boolean = false): Option[Long] =
    merge(spark, dir, batch, key, None, statCols, txn, cdf)

  /** MERGE with a DELETE clause — the FULL Delta MERGE shape a CDC
    * stream needs (`WHEN MATCHED AND op='D' THEN DELETE / WHEN
    * MATCHED THEN UPDATE SET * / WHEN NOT MATCHED AND op!='D' THEN
    * INSERT *`): `batch` carries `opCol` ∈ {I, U, D}; matched D rows
    * are dropped, matched I/U rows replaced, unmatched I/U rows
    * inserted, unmatched D rows are silent no-ops (the delete already
    * happened upstream). ONE planning semi-join over ALL batch keys
    * (stats-pruned like [[mergeInto]]), ONE staged rewrite, ONE
    * commit: O(affected + batch), never O(table). Duplicate keys in
    * the batch are an error exactly as in [[mergeInto]] — a key both
    * updated and deleted in one batch has no defined winner. `txn`
    * gives exactly-once streaming apply; `cdf = true` records the
    * full typed change set (update_preimage / update_postimage /
    * insert / delete) so downstream [[readChanges]] consumers see the
    * deletes a CDC apply produces. A batch with no upserts and no
    * matched rows commits nothing (None) unless a `txn` marker must
    * be recorded. */
  def mergeIntoCdc(spark: SparkSession, dir: String, batch: DataFrame,
                   key: String, opCol: String = "op",
                   statCols: Seq[String] = Nil,
                   txn: Option[(String, Long)] = None,
                   cdf: Boolean = false): Option[Long] = {
    require(batch.columns.contains(opCol), s"CDC batch needs an '$opCol' column")
    merge(spark, dir, batch, key, Some(opCol), statCols, txn, cdf)
  }

  /** The one MERGE body: [[mergeIntoCdc]] with the batch's `opCol`, or
    * [[mergeInto]] (`opCol` None), whose rows are all upserts — tagged
    * 'U' in an op column of their own, under a name no batch column
    * takes, dropped before staging. Errors name the method called. */
  private def merge(spark: SparkSession, dir: String, batch: DataFrame,
                    key: String, opCol: Option[String], statCols: Seq[String],
                    txn: Option[(String, Long)], cdf: Boolean): Option[Long] = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, count, lit, raise_error, when}
    val caller = if (opCol.isDefined) "mergeIntoCdc" else "mergeInto"
    val (tagged, op) = opCol match {
      case Some(c) => (batch, c)
      case None =>
        val c = Iterator.iterate("_m_op")(_ + "_").find(!batch.columns.contains(_)).get
        (batch.withColumn(c, lit("U")), c)
    }
    // the duplicate-batch-key guard rides the key column itself, so it
    // cannot be pruned away before the staged write evaluates it
    val guarded = tagged
      .withColumn("_m_n", count(lit(1)).over(Window.partitionBy(col(key))))
      .withColumn(key,
        when(col("_m_n") > 1,
          raise_error(lit(s"$caller: multiple batch rows share one $key"))
            .cast(batch.schema(key).dataType))
          .otherwise(col(key)))
      .withColumn(op,
        when(!col(op).isin("I", "U", "D"),
          raise_error(lit(s"$caller: $op must be I, U or D")))
          .otherwise(col(op)))
      .drop("_m_n")
    val upserts = guarded.filter(col(op) =!= "D").drop(op)
    // key sets derive from `guarded`, NOT the raw batch: the
    // duplicate-key raise_error guard rides the key column, and a
    // batch whose duplicates are all op='D' rows would otherwise never
    // evaluate it (the upserts side alone catches only U/I collisions)
    val delKeys = guarded.filter(col(op) === "D").select(col(key)).distinct()
    val allKeys = guarded.select(col(key)).distinct()
    retrying(dir, if (opCol.isDefined) "CDC-merging into" else "merging into") {
      // a retried streaming batch that already landed must be a no-op
      if (txn.exists { case (w, b) => committedBatches(dir, w).contains(b) }) Right(None)
      else {
        val parent = latestVersion(dir).getOrElse(-1L)
        // ONE fold serves planning and every affected-file read below
        val stM = if (parent < 0) State(Vector.empty, Set.empty, None)
          else fold(dir, parent)
        val affected: Set[String] =
          affectedByKeys(spark, dir, parent, stM, allKeys, key, batch.schema(key).dataType)
        if (affected.isEmpty && upserts.isEmpty)
          // nothing matched, nothing to insert: only a txn marker may
          // need recording (a retried empty batch must stay a no-op)
          Right(txn.flatMap { case (w, b) =>
            commit(dir, Seq(s"txn=$w:$b", "op=MERGE"), skipIfTxn = txn)
          })
        else {
          def affectedRead: DataFrame =
            maskedRead(spark, dir, stM, affected.toSeq)
          // one staged write: affected files' NON-matched survivors,
          // then every upsert (update and insert alike land as fresh
          // files). Strict by-name union: the pinned read gives
          // pre-evolution survivors the full recorded schema (NULL
          // backfill), so a column mismatch here means the BATCH
          // doesn't carry the table's current schema — an error, not
          // something to pad
          val rewritten =
            if (affected.isEmpty) upserts
            else affectedRead.join(allKeys, Seq(key), "left_anti").unionByName(upserts)
          val staged = stageFiles(rewritten, dir)
          // change-data feed (opt-in): MERGE's row changes recorded at
          // commit time — matched old rows as `update_preimage`, their
          // batch replacements as `update_postimage`, unmatched upserts
          // as `insert`, matched deletes as `delete`. One staged write
          // of O(batch + matched) rows; the feed then carries the exact
          // signed delta an incremental view needs (postimage −
          // preimage), which added-files-only feeds cannot express for
          // an upsert.
          val cdfStaged: Seq[String] =
            if (!cdf) Nil
            else {
              val typed =
                if (affected.isEmpty) upserts.withColumn("_change_type", lit("insert"))
                else {
                  val upsertKeys = upserts.select(col(key)).distinct()
                  val oldUpMatched = affectedRead.join(upsertKeys, Seq(key), "left_semi")
                  val matchedKeys = oldUpMatched.select(col(key)).distinct()
                  oldUpMatched.withColumn("_change_type", lit("update_preimage"))
                    .unionByName(upserts.join(matchedKeys, Seq(key), "left_semi")
                      .withColumn("_change_type", lit("update_postimage")))
                    .unionByName(upserts.join(matchedKeys, Seq(key), "left_anti")
                      .withColumn("_change_type", lit("insert")))
                    .unionByName(affectedRead.join(delKeys, Seq(key), "left_semi")
                      .withColumn("_change_type", lit("delete")))
                }
              stageFiles(typed, dir)
            }
          // RewriteConflict: a reset/remove landed — re-plan from the
          // new snapshot
          commitRewrite(dir, parent, affected.toSeq.sorted.map("remove=" + _) ++
            addActions(spark, dir, staged, statCols) ++
            cdfStaged.map("cdf=" + _) ++
            txn.map { case (w, b) => s"txn=$w:$b" } :+ "op=MERGE",
            staged ++ cdfStaged, skipIfTxn = txn)
        }
      }
    }
  }

  /** The change feed (Delta CDF shape, append-only): data files ADDED
    * by commits in `(sinceVersion, toVersion]`, stats suffixes
    * stripped. Pure log fold over exactly the interval's manifests —
    * O(commits polled), never O(history) — which is what a downstream
    * incremental pipeline polls instead of re-reading the table. A
    * ROW-REMOVING commit in the interval (`reset` from compact, or
    * `remove=` from deleteWhere/mergeInto) means the delta is not
    * expressible as added rows; the fold throws so the consumer falls
    * back to a full re-read. */
  def addedFilesSince(dir: String, sinceVersion: Long,
                      toVersion: Option[Long] = None): Seq[String] = {
    val to = resolved(dir, toVersion)
    require(to >= sinceVersion, s"change feed interval ($sinceVersion, $to] is negative")
    (sinceVersion + 1 to to).flatMap(v =>
      commitFeedFiles(dir, v, changeFeed = false, s" ($sinceVersion, $to]").map(_._1))
  }

  /** Read the rows appended in `(sinceVersion, toVersion]` — the
    * incremental-consumption read. Empty interval (markers-only
    * commits, or nothing new) returns an empty frame in the table's
    * schema. */
  def readSince(spark: SparkSession, dir: String, sinceVersion: Long,
                toVersion: Option[Long] = None): DataFrame = {
    val rels = addedFilesSince(dir, sinceVersion, toVersion)
    // pin the feed to the target version's recorded schema (if the
    // table evolved): an interval spanning the evolution commit holds
    // files of BOTH shapes, and an unpinned read would take whichever
    // footer parquet sampled first — this applies equally to the
    // empty-interval fallback, whose frame must carry the CURRENT
    // schema, not a sampled pre-evolution one
    if (rels.isEmpty) emptyRead(spark, dir, toVersion, "readSince")
    else {
      val st = snapshotAt(dir, toVersion)._2
      logicalize(pinnedReader(spark, st).parquet(
        rels.map(rel => dataPath(dir, rel)): _*), mappingOf(st))
    }
  }

  /** One commit's streamable files in PLAN ORDER with their recorded
    * per-file row counts — the one reader of a commit's manifest for
    * the change feeds ([[addedFilesSince]], [[readChanges]] and the
    * DSv2 streaming source). Tuple: (rel, rows if the entry recorded
    * `rows=`, isChangeFile).
    * `changeFeed=false`: the commit's `add=` files; throws on a
    * row-removing commit (reset/remove/dv — not expressible as
    * appended rows). `changeFeed=true`: a cdf-carrying commit serves
    * ONLY its change files (the rewritten survivor files it also adds
    * are NOT row changes); a row-removing commit without change data
    * throws — the consumer falls back to a snapshot re-read.
    * `interval` (e.g. " (3, 7]") names the polled range in that error. */
  private[graft] def commitFeedFiles(dir: String, v: Long, changeFeed: Boolean,
                                     interval: String = "")
      : Seq[(String, Option[Long], Boolean)] = {
    val lines = manifestLines(io(dir), dir, v)
    val cdfRels = lines.collect { case l if l.startsWith("cdf=") =>
      l.stripPrefix("cdf=") }
    if (changeFeed && cdfRels.nonEmpty)
      cdfRels.map((_, None: Option[Long], true))
    else if (lines.exists(l => l == "reset" || l.startsWith("remove=") || l.startsWith("dv=")))
      throw new IllegalStateException(
        s"change feed$interval crosses a row-removing commit at v$v" +
          (if (changeFeed) " written without change data" else "") +
          "; re-read the snapshot instead")
    else lines.collect { case l if l.startsWith("add=") =>
      val e = ManifestEntry.parse(l.stripPrefix("add="))
      (e.rel, e.rows, false)
    }
  }

  /** The ROW-LEVEL change feed over `(sinceVersion, toVersion]` — the
    * full Delta CDF contract, superseding [[readSince]] wherever the
    * interval may contain deletes or merges: every row change in the
    * interval comes back tagged `_change_type` ∈ {insert,
    * update_preimage, update_postimage, delete} and `_commit_version`.
    * Per commit the classification is pure log metadata
    * ([[commitFeedFiles]]):
    *
    *  - a pure-append commit's `add=` files ARE its inserted rows —
    *    served directly, no change files needed (Delta does the same);
    *  - a commit carrying `cdf=` actions (a cdf-enabled DELETE/MERGE)
    *    serves exactly its change files — the rewritten survivor files
    *    it also adds are NOT row changes and are skipped;
    *  - a row-removing commit WITHOUT change data (`remove=`/`reset`
    *    from a cdf-less delete, compact, restore) is not expressible
    *    as a row feed: throws, consumer falls back to a snapshot
    *    re-read — the Delta rule when CDF wasn't enabled at write time.
    *
    * Feed cost: O(manifests polled) metadata + O(changed rows) data.
    * Applying inserts − deletes + (postimages − preimages) to a
    * downstream copy reconstructs the upstream snapshot exactly —
    * incremental view maintenance rides this (see
    * `sink_manifest_cdf_propagate`). */
  def readChanges(spark: SparkSession, dir: String, sinceVersion: Long,
                  toVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val to = resolved(dir, toVersion)
    require(to >= sinceVersion, s"change feed interval ($sinceVersion, $to] is negative")
    // change files carry the table schema AS OF their commit plus the
    // baked-in type column; pin to the target version's schema (when
    // the table evolved) so pre-evolution change files NULL-backfill
    val st = fold(dir, to)
    val cdfReader = physicalSchema(st).fold(spark.read)(phys =>
      spark.read.schema(phys.add(
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType, nullable = true))))
    def logicalRead(reader: org.apache.spark.sql.DataFrameReader,
                    files: Seq[(String, Option[Long], Boolean)]): DataFrame =
      logicalize(reader.parquet(files.map(f => dataPath(dir, f._1)): _*), mappingOf(st))
    val frames: Seq[DataFrame] = (sinceVersion + 1 to to).flatMap { v =>
      val files = commitFeedFiles(dir, v, changeFeed = true, s" ($sinceVersion, $to]")
      if (files.isEmpty) None // markers-only commit: no row changes
      else if (files.head._3)
        Some(logicalRead(cdfReader, files).withColumn("_commit_version", lit(v)))
      else Some(logicalRead(pinnedReader(spark, st), files)
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(v)))
    }
    if (frames.nonEmpty) frames.reduce(_.unionByName(_))
    else // empty interval: an empty frame in the feed's schema
      emptyRead(spark, dir, Some(to), "readChanges")
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(-1L))
  }

  /** Hard cap on a single file's deletion-vector cardinality: above
    * this, [[deleteWhere]] rewrites the file even under the fraction
    * threshold — masks are driver-collected and broadcast, so their
    * size must stay bounded by policy, not by file size. */
  val DvMaxPositionsPerFile: Long = 1000000L

  /** Default [[vacuum]] grace period: unreferenced files younger than
    * this survive, protecting a concurrent writer's staged-but-not-
    * yet-committed part files (the same race Delta's VACUUM retention
    * window exists for — its default is 7 days). */
  val DefaultVacuumGraceMs: Long = 24L * 60 * 60 * 1000

  /** Garbage-collect history. Keeps the newest `keepVersions` versions
    * (≥1): a checkpoint is first forced at the oldest KEPT version (so
    * later folds never need the dropped range), older manifests and
    * checkpoints are deleted (bounding time travel), then every data
    * file referenced by NO surviving version goes — which covers both
    * compacted-away files and crashed-writer orphans that never made a
    * manifest. Returns (files deleted, manifests deleted). Safe
    * against the read path: surviving versions' files are never
    * touched. Safe against WRITERS via `minAgeMs`: an in-flight
    * append's staged `txn-*` files are unreferenced until its commit
    * lands, so the sweep spares anything younger than the grace
    * period (mtime). Pass 0 only when no writer can be in flight. */
  def vacuum(dir: String, keepVersions: Int = 1,
             minAgeMs: Long = DefaultVacuumGraceMs): (Int, Int) = {
    require(keepVersions >= 1, "must keep at least the latest version")
    val o = io(dir)
    val manifests = o.list(o.manifest)
      .flatMap(f => versionOf(f.getPath.getName, ".manifest").map(_ -> f))
      .sortBy(_._1)
    if (manifests.isEmpty) return (0, 0)
    val (drop, keep) = manifests.splitAt(math.max(0, manifests.length - keepVersions))
    val oldestKept = keep.head._1
    writeCheckpoint(dir, oldestKept) // folds BEFORE history is dropped
    // live = surviving versions' files by bare path (never the raw
    // entry, whose segments would never string-match an on-disk
    // relative path). Change-data files
    // named by a SURVIVING manifest stay too ([[readChanges]] over the
    // kept interval must still serve them); cdf files referenced only
    // by dropped history go with it — CDF retention = time-travel
    // retention, Delta's rule.
    val live: Set[String] =
      keep.flatMap { case (v, _) => fold(dir, v).files.map(_.rel) }.toSet ++
        keep.flatMap { case (v, f) => readLog(o, f.getPath, v).collect {
          case l if l.startsWith("cdf=") => l.stripPrefix("cdf=") } }
    drop.foreach { case (_, f) => o.delete(f.getPath): Unit }
    // checkpoints strictly below the oldest kept version are useless now
    o.list(o.manifest)
      .filter(f => versionOf(f.getPath.getName, ".checkpoint").exists(_ < oldestKept))
      .foreach(f => o.delete(f.getPath): Unit)
    val cutoff = System.currentTimeMillis() - minAgeMs
    var removed = 0
    for {
      txnDir <- o.list(o.data)
      if txnDir.isDirectory
      f <- o.list(txnDir.getPath)
      if f.isFile
    } {
      val rel = s"${txnDir.getPath.getName}/${f.getPath.getName}"
      if (!live.contains(rel) && f.getModificationTime <= cutoff) {
        if (o.delete(f.getPath)) removed += 1
      }
    }
    // drop now-empty txn dirs
    o.list(o.data)
      .filter(d => d.isDirectory && o.list(d.getPath).isEmpty)
      .foreach(d => o.delete(d.getPath, recursive = true): Unit)
    (removed, drop.length)
  }

  /** Atomically create the log file for exactly version `next` with
    * the given action lines. None if that version already exists.
    * The atomic create-if-absent primitive lives in [[Io.putIfAbsent]]
    * (POSIX link(2) on the local FS, no-overwrite FileContext.rename
    * on HDFS/ABFS): two committers racing to one version see exactly
    * one winner, and readers never observe a partial manifest. */
  private def tryCommitAt(dir: String, next: Long,
                          actions: Seq[String]): Option[Long] = {
    val o = io(dir)
    val body = (s"version=$next" +: actions).mkString("\n") + "\n"
    val target = new HPath(o.manifest, s"v$next.manifest")
    if (o.putIfAbsent(target, body.getBytes("UTF-8"))) {
      if (next > 0 && next % CheckpointInterval == 0) writeCheckpoint(dir, next)
      Some(next)
    } else None
  }

  /** Materialize the folded state at `v` as `v<v>.checkpoint`.
    * Idempotent and derived — losing the race to another checkpointer
    * is fine (the content is identical). */
  private def writeCheckpoint(dir: String, v: Long): Unit = {
    val o = io(dir)
    val target = new HPath(o.manifest, s"v$v.checkpoint")
    if (o.exists(target)) return
    val st = fold(dir, v)
    val body = (s"version=$v" +:
      (st.schema.map("schema=" + _).toSeq ++
        st.colmap.map("colmap=" + _).toSeq ++
        st.files.map("add=" + _.raw) ++
        st.dvs.toSeq.sortBy(_._1).map((dvAction _).tupled) ++
        st.txns.toSeq.sorted.map("txn=" + _)))
      .mkString("\n") + "\n"
    o.putIfAbsent(target, body.getBytes("UTF-8")): Unit
  }

  /** DSv2-write entry point: commit fully-formed actions (the v2
    * writer stages its own files and folds its own stats), with the
    * optional `txn` marker giving exactly-once streaming epochs.
    * Returns None when the marker says this epoch already landed. */
  private[graft] def commitActions(dir: String, actions: Seq[String],
                                   txn: Option[(String, Long)]): Option[Long] =
    commit(dir, actions ++ txn.map { case (w, b) => s"txn=$w:$b" },
      skipIfTxn = txn)

  /** Commit `actions` on top of the current snapshot, retrying past
    * concurrent committers. */
  private def commit(dir: String, actions: Seq[String],
                     skipIfTxn: Option[(String, Long)] = None): Option[Long] = {
    var attempts = 0
    while (attempts < 50) {
      attempts += 1
      // re-check idempotence EVERY attempt: the committer we just lost
      // a version race to may have been a duplicate of this very batch
      skipIfTxn.foreach { case (wtr, b) =>
        if (committedBatches(dir, wtr).contains(b)) return None
      }
      val next = latestVersion(dir).getOrElse(-1L) + 1L
      tryCommitAt(dir, next, actions) match {
        case some @ Some(_) => return some
        case None => // lost the race: re-read, retry at N+1
      }
    }
    throw new IllegalStateException(s"gave up committing to $dir after 50 conflicts")
  }
}
