package graft.mutation

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, struct, xxhash64, max => fmax, min => fmin}
import org.apache.spark.sql.types.{DataType, StructType}

/** Log-structured versioned table — the transaction-log core of
  * Delta/Iceberg reproduced on plain parquet, upgrading the in-place
  * MergeOps emulation with the two properties a swap cannot give:
  * SNAPSHOT ISOLATION (a reader resolving version N sees exactly N's
  * files, regardless of concurrent commits) and TIME TRAVEL (any
  * unexpired version stays readable).
  *
  * Layout under one root:
  *  - `seg_<uuid>/` — IMMUTABLE parquet segments; never rewritten,
  *    never deleted except by [[expireSnapshots]];
  *  - `_log/v<N>.manifest` — version N's segment list, one relative
  *    segment name per line, each optionally followed by TAB-separated
  *    per-segment column stats (`col=min:max`, doubles widened one ulp
  *    outward so they are always conservative). The manifest RENAME is
  *    the commit point: content is staged to a hidden sibling and moved
  *    in with `FileContext.rename(..., Rename.NONE)` — atomic AND
  *    create-exclusive, so a manifest either exists complete or not at
  *    all (readers can never resolve a torn version) and two racing
  *    writers of the same version cannot both "win" even on local
  *    filesystems whose plain `rename` overwrites (POSIX renameTo).
  *
  * DATA SKIPPING: commits may declare `statCols`; min/max of each is
  * computed from the freshly-written segment and recorded on its
  * manifest line. [[resolveSegments]] / [[readPruned]] then skip whole
  * segments whose recorded range is disjoint from a query interval —
  * the Iceberg manifest-stats substance the reference's query contract
  * leans on (`documents/wifi_measurement_s3_table_schema.md:70,196-207`:
  * every production query prunes on time/partition before touching
  * data). Segments without a stat for the probed column are kept
  * (conservative). [[mergeWhere]] composes the same stats into
  * copy-on-write MERGE: only segments intersecting the merge interval
  * are rewritten; disjoint segments carry forward BY REFERENCE with
  * their stats — at 100 TB a one-day correction rewrites one day's
  * files and one manifest, never the table.
  *
  * The streaming-sink idempotence fence (`#fence=[appId:]<id>` header)
  * rides the committed manifest itself and CARRIES FORWARD through
  * unfenced commits (effective fence = max of previous and provided,
  * PER writer lineage), so an interleaved compaction/merge can never
  * erase replay protection. Fences are scoped by an `appId` — the
  * Delta-txn (appId, version) idempotence idiom — because Structured
  * Streaming batch ids restart at 0 under a fresh checkpoint: an
  * unscoped global max would silently drop every batch of a restarted
  * lineage as a replay. The empty appId is the default single-lineage
  * scope and renders in the legacy `#fence=<id>` form.
  *
  * MERGE-ON-READ: the reference targets Iceberg v2 merge-on-read
  * (`documents/wifi_measurement_s3_table_schema.md:69-76`); no format jar
  * ships here, so this is the documented emulation of the format's
  * LOG-STRUCTURED substance: immutable data files + an append-only
  * metadata log + O(1) commits. UPDATE/DELETE come in BOTH shapes:
  * copy-on-write ([[mergeWhere]] — rewrite the touched interval) and
  * merge-on-read ([[morDelete]]/[[morUpsert]] — commit an EQUALITY
  * DELETE segment of key tuples, O(changed rows) written, applied at
  * scan time as an anti-join against strictly-older data segments; seq
  * numbers on manifest lines scope each delete so re-inserted keys
  * survive). [[morMaterialize]] converts read debt back into clean data
  * segments out-of-band. Underscore/dot prefixes keep every metadata
  * artifact invisible to direct parquet reads. */
object VersionedTable {

  /** One manifest entry: a segment name plus its recorded column stats
    * (numeric min/max, conservative), its commit SEQUENCE (the version
    * at which the segment entered the table — seq < 0 means "assign at
    * commit"; legacy manifests without the attribute parse as 0), and —
    * for equality-DELETE segments (`del_` names, the Iceberg v2
    * merge-on-read substance) — the key columns its rows delete on. A
    * delete applies exactly to data segments with LOWER seq, so a row
    * re-inserted after a delete is never swallowed by it. */
  final case class Segment(
      name: String, stats: Map[String, (Double, Double)],
      seq: Long = -1L, keys: Seq[String] = Nil,
      /** TRUNCATED STRING bounds (the Iceberg truncate-transform
        * substance): per column a (lower, upper) pair where lower is the
        * min value truncated (truncation only shrinks, so it stays ≤
        * every value) and upper is the max value truncated with its last
        * kept char incremented (so it stays ≥ every value). Recorded
        * only for pure-ASCII bounds — Java and UTF-8-byte orderings
        * agree there, so pruning stays sound; anything else records no
        * stat and reads conservatively. */
      sstats: Map[String, (String, String)] = Map.empty) {
    /** Could this segment contain a row with `c` in [lo, hi]? Missing
      * stats ⇒ true (never prune on absent information). */
    def mayIntersect(c: String, lo: Double, hi: Double): Boolean =
      stats.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi }
    /** String-interval variant of [[mayIntersect]] over the truncated
      * string bounds; missing stats ⇒ true. */
    def mayIntersectStr(c: String, lo: String, hi: String): Boolean =
      sstats.get(c).forall { case (mn, mx) =>
        mx.compareTo(lo) >= 0 && mn.compareTo(hi) <= 0
      }
    /** Equality-delete segment (key tuples), not a data segment. The
      * check is on the BASENAME so external (absolute-path) references
      * created by [[shallowClone]] keep their delete-ness. */
    def isDelete: Boolean = VersionedTable.baseName(name).startsWith("del_")
    /** POSITION-delete segment (Delta deletion-vector / Iceberg v2
      * position-delete substance): (`__pd_file`, `__pd_pos`) tuples that
      * retire specific row positions of specific physical files. Unlike
      * equality deletes these need no key columns and no seq scoping —
      * file paths are unique forever (uuid segment names), so a position
      * tuple can never resurrect onto a re-inserted row. */
    def isPosDelete: Boolean =
      VersionedTable.baseName(name).startsWith("pdel_")
  }

  /** Three-way manifest split: (data, equality deletes, position
    * deletes). */
  private def splitSegments(
      segs: Seq[Segment]): (Seq[Segment], Seq[Segment], Seq[Segment]) = {
    val (pdels, rest) = segs.partition(_.isPosDelete)
    val (dels, datas) = rest.partition(_.isDelete)
    (datas, dels, pdels)
  }

  /** Last path component of a manifest entry — external references carry
    * a full absolute path, local ones are already bare names. */
  private[mutation] def baseName(n: String): String =
    n.substring(n.lastIndexOf('/') + 1)

  /** External manifest entry: resolved as-is, not relative to the table
    * root (the [[shallowClone]] zero-copy reference form). */
  private[mutation] def isExternal(n: String): Boolean =
    n.startsWith("/") || n.contains(":/")

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(root: String) = new Path(root, "_log")

  private def manifest(root: String, v: Long) =
    new Path(logDir(root), f"v$v%06d.manifest")

  /** Highest committed version, or None for an empty/nonexistent table. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] = {
    val f = fs(spark, root)
    val dir = logDir(root)
    if (!f.exists(dir)) return None
    val vs = f.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong
      }
    if (vs.isEmpty) None else Some(vs.max)
  }

  private def manifestLines(
      spark: SparkSession, root: String, v: Long): Seq[String] = {
    val f = fs(spark, root)
    val p = manifest(root, v)
    if (!f.exists(p))
      throw new java.io.FileNotFoundException(
        s"version $v of $root does not exist (expired or never committed)")
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(f.open(p), "UTF-8"))
    try Iterator.continually(in.readLine()).takeWhile(_ != null)
      .map(_.trim).filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Manifest line grammar: `name[\t@attr=v]*[\tcol=min:max]*`.
    * '@'-prefixed entries are attributes (`@seq=<long>`,
    * `@keys=<k1,k2>`); everything else is a column stat. Legacy lines
    * (no attributes) parse as seq 0 data segments — old manifests stay
    * readable forever. */
  private def parseSegment(line: String): Segment = {
    val parts = line.split('\t')
    val (attrParts, statParts) = parts.tail.partition(_.startsWith("@"))
    val attrs = attrParts.iterator.map { a =>
      val Array(k, v) = a.stripPrefix("@").split("=", 2)
      k -> v
    }.toMap
    // numeric stat: `col=<min>:<max>`; string stat: `col=s:<b64lo>:<b64hi>`
    // (unpadded base64 keeps arbitrary bound bytes clear of the
    // tab/colon/equals grammar)
    val (strParts, numParts) =
      statParts.partition(_.split("=", 2)(1).startsWith("s:"))
    val stats = numParts.iterator.map { kv =>
      val Array(c, range) = kv.split("=", 2)
      val Array(mn, mx) = range.split(':')
      c -> (mn.toDouble, mx.toDouble)
    }.toMap
    val dec = java.util.Base64.getDecoder
    def b64d(x: String) = new String(dec.decode(x), "UTF-8")
    val sstats = strParts.iterator.map { kv =>
      val Array(c, range) = kv.split("=", 2)
      // limit -1: an empty-string bound encodes to an empty field, which
      // a default split would silently drop
      val Array(_, lo, hi) = range.split(":", -1)
      c -> (b64d(lo), b64d(hi))
    }.toMap
    Segment(parts.head, stats,
      seq = attrs.get("seq").fold(0L)(_.toLong),
      keys = attrs.get("keys").fold(Seq.empty[String])(_.split(',').toSeq),
      sstats = sstats)
  }

  private def renderSegment(s: Segment): String = {
    val enc = java.util.Base64.getEncoder.withoutPadding()
    def b64e(x: String) = enc.encodeToString(x.getBytes("UTF-8"))
    val attrs =
      Seq(s"@seq=${s.seq}") ++
        (if (s.keys.nonEmpty) Seq(s"@keys=${s.keys.mkString(",")}") else Nil)
    (s.name +: attrs ++:
      (s.stats.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
        s"$c=$mn:$mx"
      } ++ s.sstats.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
        s"$c=s:${b64e(lo)}:${b64e(hi)}"
      })).mkString("\t")
  }

  /** Version `v`'s manifest as parsed segment entries. */
  def segmentsOf(spark: SparkSession, root: String, v: Long): Seq[Segment] =
    manifestLines(spark, root, v).filterNot(_.startsWith("#")).map(parseSegment)

  /** One fully-parsed manifest: version + segments + fences + renames from
    * a SINGLE manifest read. The metadata-round-trip unit every
    * read-modify-write path resolves ONCE and threads through: a
    * `currentFence` → `read` → `morUpsertFenced` chain used to re-list
    * `_log` and re-read the same manifest five to eight times per
    * micro-batch — irrelevant on a local fs, but each round-trip is
    * 10–100 ms of real latency on an object store, and the trigger
    * protocol pays it per commit. */
  final case class Snapshot(
      version: Long, segments: Seq[Segment],
      fences: Map[String, Long], renames: Seq[(Long, String, String)])

  private def parseFences(lines: Seq[String]): Map[String, Long] =
    lines.filter(_.startsWith("#fence=")).map { line =>
      val body = line.stripPrefix("#fence=")
      val i = body.lastIndexOf(':')
      if (i < 0) "" -> body.toLong
      else body.substring(0, i) -> body.substring(i + 1).toLong
    }.toMap

  private def parseRenames(lines: Seq[String]): Seq[(Long, String, String)] =
    lines.filter(_.startsWith("#rename=")).map { line =>
      val Array(rv, from, to) = line.stripPrefix("#rename=").split(":", 3)
      (rv.toLong, from, to)
    }

  /** Version `v` parsed whole — one manifest read. */
  def snapshotAt(spark: SparkSession, root: String, v: Long): Snapshot = {
    val lines = manifestLines(spark, root, v)
    Snapshot(v, lines.filterNot(_.startsWith("#")).map(parseSegment),
      parseFences(lines), parseRenames(lines))
  }

  /** The current version parsed whole — one `_log` listing plus one
    * manifest read; None for an empty/nonexistent table. */
  def snapshot(spark: SparkSession, root: String): Option[Snapshot] =
    currentVersion(spark, root).map(snapshotAt(spark, root, _))

  private def resolveSnap(
      spark: SparkSession, root: String, version: Option[Long]): Snapshot =
    version.map(snapshotAt(spark, root, _)).getOrElse(
      snapshot(spark, root).getOrElse(
        throw new IllegalStateException(s"$root has no versions")))

  private def snapOrInit(spark: SparkSession, root: String): Snapshot =
    snapshot(spark, root).getOrElse(
      throw new IllegalStateException(s"$root has no version 0"))

  /** The streaming-sink idempotence fence of the CURRENT version for one
    * writer lineage (the `#fence=[appId:]<id>` manifest header — the
    * Delta-txn (appId, version) idiom, here riding the commit itself).
    * Fences carry forward through unfenced commits, so this is the max
    * fenced batch id ever committed BY `appId`. None when that lineage
    * never fenced a commit. */
  def currentFence(
      spark: SparkSession, root: String, appId: String = ""): Option[Long] =
    currentVersion(spark, root).flatMap(fenceAt(spark, root, _, appId))

  /** The fence `appId` carried at a SPECIFIC version — lets callers
    * recover which versions a given micro-batch landed at (the first
    * version whose fence equals the batch id is its append commit). */
  def fenceAt(
      spark: SparkSession, root: String, v: Long,
      appId: String = ""): Option[Long] =
    fencesOf(spark, root, v).get(appId)

  /** All lineage fences at version `v`. Legacy `#fence=<id>` headers
    * parse as the empty appId; appIds themselves may not contain ':'. */
  private def fencesOf(
      spark: SparkSession, root: String, v: Long): Map[String, Long] =
    parseFences(manifestLines(spark, root, v))

  /** The column-RENAME chain recorded at version `v`, in commit order:
    * `(renameVersion, physicalFrom, currentTo)` triples from `#rename=`
    * manifest headers. A rename applies to segments whose seq is LOWER
    * than its version (they were written under the old physical name);
    * segments written at or after it already carry the new name. The
    * chain is cumulative — every commit re-carries it — so one manifest
    * read resolves the whole mapping history (the Iceberg name-mapping
    * substance without parquet field-id plumbing). */
  def renamesOf(
      spark: SparkSession, root: String, v: Long): Seq[(Long, String, String)] =
    parseRenames(manifestLines(spark, root, v))

  /** The physical→current renames a segment written at `seq` needs. */
  private def renameFor(
      chain: Seq[(Long, String, String)],
      seq: Long): Seq[(String, String)] =
    chain.filter(_._1 > seq).map(t => (t._2, t._3))

  /** Apply a rename list in chain order; columns absent in this segment's
    * era (e.g. added later under mergeSchema) pass through untouched. */
  private def applyRenames(
      df: DataFrame, rs: Seq[(String, String)]): DataFrame =
    rs.foldLeft(df) { case (d, (from, to)) =>
      if (d.columns.contains(from)) d.withColumnRenamed(from, to) else d
    }

  /** Commit `segments` as the next version; returns it. The staged-write
    * + create-exclusive atomic rename makes the manifest the commit
    * point. The effective fence per lineage is max(previous, provided):
    * an unfenced commit after a fenced one PRESERVES replay protection
    * rather than silently erasing it, and one lineage's fence never
    * moves another's. The rename chain re-carries the same way. */
  private def commit(
      spark: SparkSession, root: String, segments: Seq[Segment],
      fence: Option[(String, Long)] = None,
      newRename: Option[(String, String)] = None): Long =
    commitFrom(spark, root, currentVersion(spark, root), segments,
      fence, newRename)

  /** OPTIMISTIC-CONCURRENCY commit (the Delta/Iceberg CAS primitive):
    * publish `segments` as version `expectedCurrent + 1` — succeeding
    * IFF no other writer committed after the caller read
    * `expectedCurrent`. The create-exclusive manifest rename IS the
    * compare-and-swap: a racing writer that already took the slot makes
    * this throw the "lost the race" IOException, and the caller's
    * correct response is the OCC loop — re-read the new head, re-derive
    * the change against it, retry. EVERY built-in read-modify-write
    * commit (append, MOR, compaction, materialize, rename, mergeWhere)
    * rides this same CAS internally, pinned to the version its segment
    * list was read from — two appends racing through the old
    * resolve-at-commit path would have had the second silently publish a
    * list missing the first's segment (the lost-update anomaly); now the
    * loser fails loudly and retries. Only [[create]] (fresh v0) and
    * [[replace]] (deliberate truncate-and-load, last writer wins by
    * contract) resolve at commit time. commitIf is the public entry for
    * caller-side read-modify-write (a55). */
  def commitIf(
      spark: SparkSession, root: String, segments: Seq[Segment],
      expectedCurrent: Long): Long =
    commitFrom(spark, root, Some(expectedCurrent), segments, None, None)

  /** [[replace]] with OCC validation: the copy-on-write rewrite lands
    * only if the table is still at `expectedCurrent`. */
  def replaceIf(
      spark: SparkSession, root: String, df: DataFrame,
      expectedCurrent: Long, statCols: Seq[String] = Nil): Long =
    commitIf(spark, root,
      Seq(writeSegment(spark, root, df, statCols)), expectedCurrent)

  private def commitFrom(
      spark: SparkSession, root: String, prev: Option[Long],
      segments: Seq[Segment],
      fence: Option[(String, Long)],
      newRename: Option[(String, String)]): Long =
    commitSnap(spark, root, prev.map(snapshotAt(spark, root, _)), segments,
      fence, newRename)

  /** [[commitFrom]] against an already-parsed predecessor — the single
    * manifest read the caller's fence check / segment-list read did is
    * reused instead of re-reading the same file for the carried fences
    * and the rename chain. The OCC pin is unchanged: the commit targets
    * `prev.version + 1` exactly as if the caller had passed the version
    * number. */
  private def commitSnap(
      spark: SparkSession, root: String, prev: Option[Snapshot],
      segments: Seq[Segment],
      fence: Option[(String, Long)],
      newRename: Option[(String, String)]): Long = {
    val f = fs(spark, root)
    val dir = logDir(root)
    if (!f.exists(dir) && !f.mkdirs(dir))
      throw new java.io.IOException(s"cannot create $dir")
    val carried = prev.map(_.fences).getOrElse(Map.empty)
    val eff = fence.fold(carried) { case (app, id) =>
      carried.updated(app, carried.get(app).fold(id)(_ max id))
    }
    val v = prev.fold(0L)(_.version + 1)
    val prevRenames = prev.map(_.renames).getOrElse(Nil)
    val renames = prevRenames ++ newRename.map(r => (v, r._1, r._2))
    val header = eff.toSeq.sortBy(_._1).map {
      case ("", id)  => s"#fence=$id\n"
      case (app, id) => s"#fence=$app:$id\n"
    }.mkString + renames.map {
      case (rv, from, to) => s"#rename=$rv:$from:$to\n"
    }.mkString
    // segments entering the table THIS commit (seq < 0) get stamped with
    // the committed version; carried segments keep their original seq —
    // that ordering is what scopes equality deletes to older data only
    val stamped = segments.map(s => if (s.seq < 0) s.copy(seq = v) else s)
    // DANGLING-DELETE cleanup (Iceberg's rewrite leaves the same debt): a
    // delete applying to NO referenced data segment (every data seq >=
    // its own) can never remove a row from this or any derived version —
    // drop it so compaction/materialization naturally retires del files
    val minDataSeq =
      stamped.collect {
        case s if !s.isDelete && !s.isPosDelete => s.seq
      }.minOption
    val live =
      stamped.filter(s => !s.isDelete || minDataSeq.exists(_ < s.seq))
    // a v0 commit is a table INITIALIZATION: arbitrate against every
    // other initializer (incl. shallowClone, whose first slot differs)
    if (prev.isEmpty) claimInit(spark, root)
    publishManifest(spark, root, v,
      header + live.map(renderSegment).mkString("\n") + "\n")
    v
  }

  /** Exclusive TABLE-INITIALIZATION claim: the first writer of a root —
    * [[create]]'s v0 commit or a [[shallowClone]] (whose first version is
    * the SOURCE version, so two initializers need not collide on a
    * version slot at all) — must create `_log/.init` create-exclusively
    * before publishing anything. The per-version manifest CAS cannot
    * arbitrate initializers targeting DIFFERENT slots (v0 create vs. vN
    * clone would both publish, leaving unrelated content in one version
    * history); this marker makes every initializer of a root collide on
    * the same atomic primitive. A claim that crashed before its first
    * manifest is swept by [[removeOrphans]] (age-floored, and only while
    * the root has no manifests). */
  private def claimInit(spark: SparkSession, root: String): Unit = {
    val f = fs(spark, root)
    val dir = logDir(root)
    if (!f.exists(dir) && !f.mkdirs(dir))
      throw new java.io.IOException(s"cannot create $dir")
    val p = new Path(dir, ".init")
    val scheme = Option(f.getUri.getScheme).getOrElse("file")
    try {
      if (scheme == "file")
        // ChecksumFileSystem's create(overwrite=false) is check-then-act;
        // the POSIX atomic no-replace primitive is O_EXCL file creation
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(p.toUri.getPath))
      else f.create(p, false).close()
    } catch {
      case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                _: java.nio.file.FileAlreadyExistsException) =>
        throw new java.io.IOException(
          s"initialization of $root lost the race (.init already claimed)", e)
    }
    ()
  }

  /** The commit point itself: stage the manifest content to a hidden
    * sibling, then move it in with `Rename.NONE` — atomic AND
    * create-exclusive, failing when the destination exists, even on
    * LocalFileSystem whose plain `rename` (POSIX renameTo) silently
    * overwrites. Two writers racing for the same version: exactly one
    * wins; the loser's staging file is cleaned and the winner's manifest
    * is untouched. */
  private[mutation] def publishManifest(
      spark: SparkSession, root: String, v: Long, content: String): Unit = {
    val f = fs(spark, root)
    // staging name is WRITER-unique, not version-unique: two racers for
    // the same version sharing one tmp path corrupt each other before
    // the rename ever arbitrates (one renames the tmp away mid-write of
    // the other — caught by ConcurrentCommitSpec)
    val tmp = new Path(logDir(root), s".v$v.manifest." +
      java.util.UUID.randomUUID().toString.replace("-", "") + ".tmp")
    val out = f.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    val target = manifest(root, v)
    val scheme = Option(f.getUri.getScheme).getOrElse("file")
    try {
      if (scheme == "file") {
        // LOCAL fs: Hadoop's Rename.NONE is CHECK-THEN-ACT over POSIX
        // rename (which silently replaces), so two same-version racers
        // can both "win" and one manifest vanishes — observed once in
        // ~10 ConcurrentCommitSpec runs. The POSIX atomic no-replace
        // primitive is hard-LINK creation (EEXIST on conflict): link the
        // staged content in, then drop the staging name.
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(target.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        f.delete(tmp, false)
        ()
      } else {
        // HDFS-like stores arbitrate no-overwrite renames server-side
        FileContext.getFileContext(target.toUri,
          spark.sparkContext.hadoopConfiguration)
          .rename(tmp, target, Options.Rename.NONE)
      }
    } catch {
      // only a LOSING RACE (the create-exclusive destination already
      // exists) gets the benign commit-conflict label; a genuine IO
      // failure (disk full, permissions, missing _log) keeps its own
      // identity so operators never chase a phantom concurrent writer
      case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                _: java.nio.file.FileAlreadyExistsException) =>
        f.delete(tmp, false)
        throw new java.io.IOException(
          s"commit of version $v lost the race (manifest exists)", e)
      case e: Exception =>
        f.delete(tmp, false)
        if (f.exists(target))
          throw new java.io.IOException(
            s"commit of version $v lost the race (manifest exists)", e)
        throw e
    }
  }

  /** Write `df` as a fresh immutable segment and record min/max of each
    * `statCols` column from the written files (one segment-sized scan at
    * commit time — the Iceberg write-side stats cost). Bounds are
    * widened one ulp outward so double rounding of wide integer types
    * can never prune a segment that holds a qualifying row. */
  private def writeSegment(
      spark: SparkSession, root: String, df: DataFrame,
      statCols: Seq[String], prefix: String = "seg_",
      keys: Seq[String] = Nil): Segment = {
    val name = prefix + java.util.UUID.randomUUID().toString.replace("-", "")
    val path = new Path(root, name).toString
    df.write.parquet(path)
    val (stats, sstats) = statsOfPath(spark, path, statCols)
    Segment(name, stats, keys = keys, sstats = sstats)
  }

  /** Manifest stats for a written parquet path: statCols split by dtype
    * — string columns get TRUNCATED string bounds, everything else the
    * numeric min/max. Shared by [[writeSegment]] and [[importDir]].
    *
    * Served from the PARQUET FOOTERS when possible (driver-side metadata
    * reads — zero Spark jobs; the files already carry chunk min/max, and
    * re-scanning data to recompute them doubled every statted commit's
    * job count). Falls back to the one-pass scan for anything the footer
    * path cannot vouch for: non-primitive or annotated types (dates,
    * decimals, timestamps), chunks with rows but no usable statistics,
    * or non-UTF-8 binary bounds. */
  private[mutation] def statsOfPath(
      spark: SparkSession, path: String, statCols: Seq[String])
      : (Map[String, (Double, Double)], Map[String, (String, String)]) = {
    if (statCols.isEmpty)
      return (Map.empty, Map.empty)
    footerStats(spark, path, statCols)
      .getOrElse(scanStats(spark, path, statCols))
  }

  /** Footer-derived stats, or None when any footer cannot be trusted for
    * any requested column (caller re-derives by scanning). Soundness
    * contract matches [[scanStats]]: integer bounds padded one ulp
    * outward (the double cast of an int64 rounds to nearest, error
    * ≤ 0.5 ulp, so the padded bound still encloses the true value);
    * float/double columns always bail — parquet-mr computes their
    * footer stats IGNORING NaN rows (PARQUET-1222), so only the scan
    * can honor the any-NaN ⇒ no-stat conservatism; truncated binary
    * bounds from parquet-mr remain valid inputs to [[truncStrBounds]]
    * because truncation only widens the interval. */
  private[mutation] def footerStats(
      spark: SparkSession, path: String, statCols: Seq[String])
      : Option[(Map[String, (Double, Double)], Map[String, (String, String)])] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    object Fallback extends scala.util.control.ControlThrowable
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    try {
      val f = p.getFileSystem(conf)
      if (!f.exists(p)) return None
      val files = f.listStatus(p).map(_.getPath).filter(isDataFile)
      if (files.isEmpty) return None
      val wanted = statCols.toSet
      // (isString, numMin, numMax, strMin, strMax, seen) per column
      val numMn = scala.collection.mutable.Map.empty[String, Double]
      val numMx = scala.collection.mutable.Map.empty[String, Double]
      val strMn = scala.collection.mutable.Map.empty[String, String]
      val strMx = scala.collection.mutable.Map.empty[String, String]
      def utf8(b: org.apache.parquet.io.api.Binary): String = {
        val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
          .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
          .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
        try dec.decode(b.toByteBuffer).toString
        catch { case _: java.nio.charset.CharacterCodingException => throw Fallback }
      }
      files.foreach { fp =>
        val rd = ParquetFileReader.open(HadoopInputFile.fromPath(fp, conf))
        val footer = try rd.getFooter finally rd.close()
        val schema = footer.getFileMetaData.getSchema
        val isStr = statCols.map { c =>
          if (!schema.containsField(c)) throw Fallback
          val t = schema.getType(Seq(c): _*)
          if (!t.isPrimitive) throw Fallback
          val pt = t.asPrimitiveType()
          val ann = pt.getLogicalTypeAnnotation
          pt.getPrimitiveTypeName match {
            case PrimitiveTypeName.INT64 | PrimitiveTypeName.INT32 =>
              ann match {
                case null => // plain integer
                case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
                    if i.isSigned => // int/long/short/byte
                case _ => throw Fallback // date/time/decimal/unsigned
              }
              c -> false
            case PrimitiveTypeName.DOUBLE | PrimitiveTypeName.FLOAT =>
              // parquet-mr computes float stats IGNORING NaN rows
              // (PARQUET-1222), so a footer cannot reproduce the scan's
              // NaN-conservatism (any NaN ⇒ record no stat) — bail
              throw Fallback
            case PrimitiveTypeName.BINARY =>
              ann match {
                case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation =>
                  c -> true
                case _ => throw Fallback
              }
            case _ => throw Fallback
          }
        }.toMap
        footer.getBlocks.forEach { blk =>
          blk.getColumns.forEach { cc =>
            val name = cc.getPath.toDotString
            if (wanted(name) && cc.getValueCount > 0) {
              val st = cc.getStatistics
              // rows present but no trustworthy bounds → scan decides
              if (st == null || st.isEmpty) throw Fallback
              if (st.hasNonNullValue) {
                if (isStr(name)) {
                  val mn = utf8(st.genericGetMin
                    .asInstanceOf[org.apache.parquet.io.api.Binary])
                  val mx = utf8(st.genericGetMax
                    .asInstanceOf[org.apache.parquet.io.api.Binary])
                  // merge per-file bounds in UNSIGNED UTF-8 BYTE order —
                  // the order parquet-mr computed them in (and Spark's
                  // UTF8String order). Java's UTF-16 compareTo disagrees
                  // beyond ASCII (e.g. U+FF01 vs U+10000), and relying on
                  // truncStrBounds' downstream ASCII guard to mask a
                  // wrong-order merge here is the cross-function coupling
                  // the round-16 ADVICE flagged.
                  strMn.updateWith(name)(o =>
                    Some(o.fold(mn)(v => if (utf8Lt(mn, v)) mn else v)))
                  strMx.updateWith(name)(o =>
                    Some(o.fold(mx)(v => if (utf8Lt(v, mx)) mx else v)))
                } else {
                  val mn = st.genericGetMin.asInstanceOf[Number].doubleValue()
                  val mx = st.genericGetMax.asInstanceOf[Number].doubleValue()
                  numMn.updateWith(name)(o => Some(o.fold(mn)(math.min(_, mn))))
                  numMx.updateWith(name)(o => Some(o.fold(mx)(math.max(_, mx))))
                }
              }
            }
          }
        }
      }
      val num = numMn.keys.flatMap { c =>
        val (mn, mx) = (numMn(c), numMx(c))
        if (mn.isNaN || mx.isNaN) None // unordered — never prune on it
        else Some(c -> (Math.nextDown(mn), Math.nextUp(mx)))
      }.toMap
      val str = strMn.keys.flatMap { c =>
        truncStrBounds(strMn(c), strMx(c)).map(c -> _)
      }.toMap
      Some((num, str))
    } catch {
      case Fallback => None
      // ANY unreadable/corrupt footer degrades to the scan path — a
      // RuntimeException out of parquet-mr must never fail the commit
      // (round-16 ADVICE: the old IOException-only catch did)
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** A parquet data file of a segment directory — not a `_SUCCESS`
    * marker, a `.crc` sidecar or a hidden staging file. */
  private def isDataFile(q: Path): Boolean = {
    val n = q.getName
    n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
  }

  /** a < b in unsigned UTF-8 byte order — the ordering parquet footer
    * statistics and Spark's UTF8String use; Java String compareTo
    * (UTF-16 code units) disagrees with it beyond the BMP's ASCII range. */
  private[mutation] def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < x.length && i < y.length) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length < y.length
  }

  /** The one-pass Spark scan behind [[statsOfPath]]'s fallback. */
  private[mutation] def scanStats(
      spark: SparkSession, path: String, statCols: Seq[String])
      : (Map[String, (Double, Double)], Map[String, (String, String)]) = {
    val written = readSegments(spark, Seq(path), mergeSchema = false)
    val strCols = statCols.filter(c =>
      written.schema.find(_.name == c)
        .exists(_.dataType == org.apache.spark.sql.types.StringType))
    val numCols = statCols.filterNot(strCols.contains)
    val num =
      if (numCols.isEmpty) Map.empty[String, (Double, Double)]
      else {
        val aggs = numCols.flatMap { c =>
          Seq(fmin(col(c).cast("double")).as(s"__mn_$c"),
            fmax(col(c).cast("double")).as(s"__mx_$c"))
        }
        val r = written.agg(aggs.head, aggs.tail: _*).head()
        numCols.zipWithIndex.flatMap { case (c, i) =>
          if (r.isNullAt(2 * i) || r.isNullAt(2 * i + 1)) None
          else {
            val mn = r.getDouble(2 * i)
            val mx = r.getDouble(2 * i + 1)
            // Spark orders NaN ABOVE +Inf, so any NaN row poisons max
            // to NaN — and `NaN >= lo` is false, which would silently
            // PRUNE a segment that holds qualifying rows. Same as
            // all-null: record no stat, keep conservatively.
            if (mn.isNaN || mx.isNaN) None
            else Some(c -> (Math.nextDown(mn), Math.nextUp(mx)))
          }
        }.toMap
      }
    val str =
      if (strCols.isEmpty) Map.empty[String, (String, String)]
      else {
        val aggs = strCols.flatMap { c =>
          Seq(fmin(col(c)).as(s"__mn_$c"), fmax(col(c)).as(s"__mx_$c"))
        }
        val r = written.agg(aggs.head, aggs.tail: _*).head()
        strCols.zipWithIndex.flatMap { case (c, i) =>
          if (r.isNullAt(2 * i) || r.isNullAt(2 * i + 1)) None
          else truncStrBounds(r.getString(2 * i), r.getString(2 * i + 1))
            .map(c -> _)
        }.toMap
      }
    (num, str)
  }

  /** IMPORT an existing parquet directory as a segment BY REFERENCE (the
    * Iceberg `add_files` / Delta CONVERT substance): one commit adds an
    * EXTERNAL absolute-path manifest entry — zero bytes of data copied
    * regardless of directory size; the only scan is the optional stats
    * pass over `statCols` (manifest min/max + truncated string bounds,
    * so imported data prunes exactly like native segments). The imported
    * entry gets the commit's seq, so equality deletes committed EARLIER
    * never apply to it (it is new data to this table) and later ones do
    * — the same scoping as a native append. Caveat shared with
    * shallowClone sources: the table does not own the imported files;
    * vacuum/expiry never touch external paths, and deleting the source
    * directory out from under the table breaks the snapshots that
    * reference it. */
  def importDir(
      spark: SparkSession, root: String, dir: String,
      statCols: Seq[String] = Nil): Long = {
    val snap = snapOrInit(spark, root)
    commitSnap(spark, root, Some(snap),
      snap.segments :+ externalSegment(spark, dir, statCols),
      None, None)
  }

  private def externalSegment(
      spark: SparkSession, dir: String, statCols: Seq[String]): Segment = {
    val qualified = fs(spark, dir).makeQualified(new Path(dir)).toString
    require(isExternal(qualified), s"cannot qualify $dir to an absolute path")
    // segment KIND is carried by the basename prefix; an import whose
    // directory happens to be named like a delete would misparse forever
    require(!baseName(qualified).startsWith("del_") &&
      !baseName(qualified).startsWith("pdel_"),
      s"cannot import a directory named like a delete segment: $qualified")
    val (stats, sstats) = statsOfPath(spark, qualified, statCols)
    Segment(qualified, stats, sstats = sstats)
  }

  /** Replay-safe STREAMING import — the auto-loader shape: a discovery
    * stream notices newly landed directories and registers each batch's
    * paths BY REFERENCE, fenced per writer lineage exactly like
    * [[appendFenced]] (an at-least-once `foreachBatch` replay re-imports
    * only if the original commit never landed — without the fence a
    * replay would double-register the same files). All of one batch's
    * directories ride ONE commit, so a crash mid-batch never publishes a
    * partial batch. The first batch of a fresh table commits as the
    * create (initializer-arbitrated via the `.init` claim). */
  def importDirsFenced(
      spark: SparkSession, root: String, dirs: Seq[String], batchId: Long,
      appId: String = "", statCols: Seq[String] = Nil): Option[Long] = {
    require(!appId.contains(':') && !appId.contains('\n'),
      s"appId may not contain ':' or newlines: $appId")
    if (dirs.isEmpty) return None
    val snap = snapshot(spark, root)
    if (snap.exists(_.fences.get(appId).exists(_ >= batchId))) return None
    val segs = dirs.map(externalSegment(spark, _, statCols))
    Some(commitSnap(spark, root, snap,
      snap.map(_.segments).getOrElse(Seq.empty) ++ segs,
      Some(appId -> batchId), None))
  }

  /** Iceberg truncate-transform bounds: lower = min truncated (shrinking
    * only — stays ≤ every value); upper = max truncated with the last
    * kept char incremented (stays ≥ every value). Both bounds must be
    * pure ASCII, where Java's UTF-16 ordering and Spark's UTF-8-byte
    * ordering agree — anything else records no stat (conservative).
    * COUPLING NOTE: `Segment.mayIntersectStr` prunes with Java
    * compareTo, which is only sound BECAUSE this guard keeps recorded
    * bounds ASCII; widening this function past ASCII requires switching
    * that comparison to [[utf8Lt]]'s byte order (footerStats' bound
    * merge already uses it). */
  private[mutation] def truncStrBounds(
      mn: String, mx: String, width: Int = 16): Option[(String, String)] = {
    def ascii(s: String) = s.forall(_ < 128)
    if (!ascii(mn.take(width + 1)) || !ascii(mx.take(width + 1))) None
    else {
      val lo = mn.take(width)
      val hi =
        if (mx.length <= width) mx
        else {
          val t = mx.take(width).toCharArray
          // ASCII-guarded above, so the last char can always increment
          t(t.length - 1) = (t(t.length - 1) + 1).toChar
          new String(t)
        }
      Some((lo, hi))
    }
  }

  /** RESTORE (Delta's `RESTORE TABLE ... VERSION AS OF` substance): commit
    * a NEW version whose read equals `toVersion`'s exactly — the target's
    * segment entries carried verbatim (seqs intact, so equality-delete
    * scoping replays identically) under the target's rename chain (so
    * every segment resolves to the schema names that snapshot served) —
    * while the HEAD's idempotence fences carry forward: rolling back data
    * must never roll back replay protection, or the next streaming batch
    * would double-apply. Rollback is one manifest write that touches no
    * data file, and the bad intermediate versions stay time-travel-
    * readable for audit until expired. */
  def restore(spark: SparkSession, root: String, toVersion: Long): Long = {
    val headSnap = snapOrInit(spark, root)
    val head = headSnap.version
    require(toVersion <= head,
      s"cannot restore $root to unborn version $toVersion (head $head)")
    val target = snapshotAt(spark, root, toVersion) // throws if expired
    val segs = target.segments
    val fences = headSnap.fences
    val renames = target.renames
    val v = head + 1
    val header = fences.toSeq.sortBy(_._1).map {
      case ("", id)  => s"#fence=$id\n"
      case (app, id) => s"#fence=$app:$id\n"
    }.mkString + renames.map {
      case (rv, from, to) => s"#rename=$rv:$from:$to\n"
    }.mkString
    publishManifest(spark, root, v,
      header + segs.map(renderSegment).mkString("\n") + "\n")
    v
  }

  /** ORPHAN-FILE cleanup (Iceberg's `remove_orphan_files` substance):
    * delete everything under `root` that no manifest of ANY retained
    * version references. Crashed writers leave `.stage_*` directories and
    * written-but-never-committed `seg_`/`del_` segments behind (a losing
    * commit race leaves the same debt), and derived bloom sidecars can
    * outlive their segment. Distinct from [[expireSnapshots]], which
    * retires SNAPSHOTS — this never touches a manifest or anything one
    * references. Only entries older than `olderThanMs` are deleted, so a
    * cleanup racing a live writer never removes its about-to-commit
    * segment. Returns the deleted names, sorted. */
  def removeOrphans(
      spark: SparkSession, root: String, olderThanMs: Long = 0L): Seq[String] = {
    val f = fs(spark, root)
    val dir = logDir(root)
    if (!f.exists(dir)) return Nil // not a versioned table: refuse to guess
    val vs = f.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong
      }
    val live = vs.flatMap(segmentsOf(spark, root, _).map(_.name)).toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    val dead = f.listStatus(new Path(root))
      .filter { st =>
        val n = st.getPath.getName
        val orphan =
          ((n.startsWith("seg_") || n.startsWith("del_") ||
            n.startsWith("pdel_")) && !live(n)) ||
            n.startsWith(".stage_")
        orphan && st.getModificationTime <= cutoff
      }
      .map(_.getPath)
    dead.foreach(f.delete(_, true))
    // crashed writers can also leave manifest STAGING files behind (a
    // losing racer that died between create and its cleanup), and on
    // checksummed local filesystems each staging file gets a
    // '..vN.….tmp.crc' sidecar that survives even when the .tmp itself
    // was consumed (createLink moves content, not the sidecar). The tmp
    // sweep gets a MINIMUM AGE FLOOR independent of `olderThanMs`: a
    // maintenance call with cutoff 0 racing a live committer must never
    // delete a just-created staging file between create and rename —
    // segments are safe at cutoff 0 (they become live atomically with
    // the manifest) but staging files are by definition pre-commit.
    val tmpCutoff =
      System.currentTimeMillis() - math.max(olderThanMs, 600000L)
    val deadTmp = f.listStatus(dir)
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith(".v") && n.endsWith(".tmp") &&
          st.getModificationTime <= tmpCutoff
      }.map(_.getPath)
    deadTmp.foreach(f.delete(_, false))
    // ChecksumFileSystem HIDES .crc entries from listStatus, so orphaned
    // sidecars need a raw directory listing; deleting a .tmp through the
    // checksummed fs drops its sidecar, but a sidecar whose data file is
    // already gone (e.g. consumed by the commit hard-link) never gets
    // another chance — exactly the accumulate-forever debt swept here
    val deadCrc: Seq[Path] =
      if (Option(f.getUri.getScheme).forall(_ == "file")) {
        val raw = new java.io.File(dir.toUri.getPath)
        Option(raw.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
          .filter { jf =>
            val n = jf.getName
            n.startsWith("..v") && n.endsWith(".tmp.crc") &&
              jf.lastModified() <= tmpCutoff && jf.exists()
          }
          .flatMap { jf =>
            if (jf.delete()) Some(new Path(dir, jf.getName)) else None
          }
      } else Nil
    // a claimed-but-never-published init marker (initializer crashed
    // between claim and its first manifest) would block the root forever;
    // sweep it ONLY when the table still has no manifests at all
    val initP = new Path(dir, ".init")
    val deadInit =
      if (vs.isEmpty && f.exists(initP) &&
          f.getFileStatus(initP).getModificationTime <= tmpCutoff) {
        f.delete(initP, false); Seq(initP)
      } else Nil
    val bloomDir = new Path(root, "_blooms")
    val deadBlooms =
      if (!f.exists(bloomDir)) Array.empty[Path]
      else f.listStatus(bloomDir).filter { st =>
        // sidecar name grammar: <segment>.<col>.bloom; segment names hold
        // no dots, so the first dot splits exactly
        val seg = st.getPath.getName.takeWhile(_ != '.')
        !live(seg) && st.getModificationTime <= cutoff
      }.map(_.getPath)
    deadBlooms.foreach(f.delete(_, false))
    (dead.map(_.getName) ++ deadTmp.map(p => s"_log/${p.getName}") ++
      deadCrc.map(p => s"_log/${p.getName}") ++
      deadInit.map(p => s"_log/${p.getName}") ++
      deadBlooms.map(p => s"_blooms/${p.getName}"))
      .toSeq.sorted
  }

  /** SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE` / Iceberg
    * snapshot-ref substance): materialize the SOURCE snapshot's manifest
    * into a brand-new table root BY REFERENCE — every source segment is
    * recorded as an absolute external path, no data file is copied, and
    * the clone costs ONE manifest write regardless of table size (a
    * 100 TB table clones in milliseconds). The clone then evolves
    * independently: appends/MERGE/MOR-deletes land under the clone's own
    * root and never touch the source; equality deletes committed on the
    * clone anti-join external segments exactly like local ones.
    *
    * The clone's FIRST version number is the cloned source version, so
    * carried segment `seq` stamps (source commit versions) stay strictly
    * below every future clone commit — delete/rename scoping stays sound
    * without rewriting history. Fences are deliberately NOT carried (a
    * clone is a fresh writer lineage); the rename chain IS (cloned
    * segments keep their physical-era schemas).
    *
    * Caveat shared with Delta shallow clones: the source does not know
    * its segments are referenced elsewhere, so [[expireSnapshots]] /
    * [[removeOrphans]] on the SOURCE can invalidate clones. The clone's
    * own vacuum is safe — it only ever deletes files under its root. */
  def shallowClone(
      spark: SparkSession, srcRoot: String, dstRoot: String,
      version: Option[Long] = None): Long = {
    require(currentVersion(spark, dstRoot).isEmpty,
      s"$dstRoot already versioned")
    val v = version.orElse(currentVersion(spark, srcRoot))
      .getOrElse(throw new IllegalStateException(s"$srcRoot has no versions"))
    val srcAbs = fs(spark, srcRoot).makeQualified(new Path(srcRoot))
    val segs = segmentsOf(spark, srcRoot, v).map { sg =>
      if (isExternal(sg.name)) sg
      else sg.copy(name = new Path(srcAbs, sg.name).toString)
    }
    val header = renamesOf(spark, srcRoot, v).map {
      case (rv, from, to) => s"#rename=$rv:$from:$to\n"
    }.mkString
    // initializer arbitration: the empty-destination require above is
    // check-then-act; the .init claim is the atomic primitive that makes
    // a racing create(dst) and this clone collide even though they
    // target DIFFERENT version slots (v0 vs. the source version)
    claimInit(spark, dstRoot)
    publishManifest(spark, dstRoot, v,
      header + segs.map(renderSegment).mkString("\n") + "\n")
    v
  }

  /** TIMESTAMP time travel (Delta's `AS OF TIMESTAMP` substance, which
    * resolves against commit-file modification times): the latest
    * version whose manifest mtime is <= `tsMillis`. Commit mtimes are
    * wall-clock — callers wanting reproducible probes bracket BETWEEN
    * observed commit times rather than pinning absolutes. Throws when
    * `tsMillis` predates the first commit (same contract as Delta). */
  def versionAsOf(spark: SparkSession, root: String, tsMillis: Long): Long = {
    val f = fs(spark, root)
    val dir = logDir(root)
    if (!f.exists(dir))
      throw new IllegalStateException(s"$root has no versions")
    val vs = f.listStatus(dir)
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith("v") && n.endsWith(".manifest")
      }
      .map(st => (st.getPath.getName.stripPrefix("v")
        .stripSuffix(".manifest").toLong, st.getModificationTime))
      .sortBy(_._1)
    val at = vs.filter(_._2 <= tsMillis)
    if (at.isEmpty)
      throw new IllegalArgumentException(
        s"$root: no commit at or before $tsMillis " +
          s"(first commit at ${vs.headOption.map(_._2).getOrElse(-1L)})")
    at.map(_._1).max
  }

  /** Create the table at version 0 with `df`'s rows. */
  def create(spark: SparkSession, root: String, df: DataFrame,
      statCols: Seq[String] = Nil): Long = {
    require(currentVersion(spark, root).isEmpty, s"$root already versioned")
    commit(spark, root, Seq(writeSegment(spark, root, df, statCols)))
  }

  /** One-pass PARTITIONED create: write `df` partitioned by numeric
    * `partCol` in a SINGLE write job, then register each partition
    * directory as its own segment whose `partCol` stat IS the partition
    * value — the Iceberg partition-field shape: per-segment stats with NO
    * stats scan (the value is in the directory name), exact pruning on
    * `partCol`, and one job instead of one-write-plus-one-stats-scan per
    * partition. The data files keep the column (it is duplicated into a
    * synthetic `__p` for the directory layout, which partitionBy then
    * strips), so segment reads return the full schema. Returns
    * (version 0, segments created). */
  def createPartitioned(
      spark: SparkSession, root: String, df: DataFrame,
      partCol: String): (Long, Int) = {
    require(currentVersion(spark, root).isEmpty, s"$root already versioned")
    val segs = layoutPartitions(spark, root, df, partCol)
    (commit(spark, root, segs), segs.length)
  }

  /** PARTITION-SPEC EVOLUTION (Iceberg's evolve-spec substance): append
    * `df` laid out by a (possibly DIFFERENT) partition column — one write
    * job, one segment per partition value, the partition value recorded
    * as that segment's exact stat. Existing segments keep their original
    * layout and stats untouched: queries pruning on the OLD partition
    * column skip old-era segments exactly and keep new-era segments
    * conservatively (absent stat = never prune), and vice versa — no
    * table rewrite when the partitioning strategy changes. */
  def appendPartitioned(
      spark: SparkSession, root: String, df: DataFrame,
      partCol: String): (Long, Int) = {
    val prev = currentVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"$root has no version 0"))
    val segs = layoutPartitions(spark, root, df, partCol)
    (commitFrom(spark, root, Some(prev),
      segmentsOf(spark, root, prev) ++ segs, None, None), segs.length)
  }

  private def layoutPartitions(
      spark: SparkSession, root: String, df: DataFrame,
      partCol: String): Seq[Segment] = {
    val f = fs(spark, root)
    val staging = new Path(root,
      ".stage_" + java.util.UUID.randomUUID().toString.replace("-", ""))
    val placed = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      // CLUSTER BY the partition column before the partitioned write
      // (round 19, guide §6 output file sizing + §2 parallelism): the
      // input's partitioning is whatever the upstream scan produced —
      // a62's month layout arrived as ONE scan split, so the write of the
      // whole table ran in ONE task (2.8 s of its 3.6 s wall); conversely
      // a wide input writes tasks × values tiny files. One hash exchange
      // on the partition column gives every value exactly one writer
      // (one file per segment at bench scale) and value-count parallelism.
      // `spark.graft.layout.filesPerPartition` (default 1) adds a
      // deterministic full-row-hash salt for production, where one task
      // per partition value would bottleneck giant partitions.
      val filesPer = spark.conf
        .get("spark.graft.layout.filesPerPartition", "1").toInt
      val clustered =
        if (filesPer <= 1) df.repartition(col(partCol))
        else df.repartition(col(partCol),
          pmod(xxhash64(struct(df.columns.map(col): _*)), lit(filesPer)))
      clustered.withColumn("__p", col(partCol))
        .write.partitionBy("__p").parquet(staging.toString)
      val segs = f.listStatus(staging)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("__p="))
        .sortBy(_.getPath.getName)
        .map { st =>
          val raw = st.getPath.getName.stripPrefix("__p=")
          // null part values land in Hive's default-partition directory
          // and NaN would poison the stat into never-intersecting; both
          // fail LOUDLY here rather than crash obscurely or prune rows
          if (raw == "__HIVE_DEFAULT_PARTITION__")
            throw new IllegalArgumentException(
              s"partitioned layout: $partCol contains nulls; " +
                "filter or fill them before partitioning")
          val v = raw.toDouble
          if (v.isNaN)
            throw new IllegalArgumentException(
              s"partitioned layout: $partCol contains NaN; " +
                "filter or fill it before partitioning")
          val name =
            "seg_" + java.util.UUID.randomUUID().toString.replace("-", "")
          if (!f.rename(st.getPath, new Path(root, name)))
            throw new java.io.IOException(
              s"cannot place segment for ${st.getPath}")
          placed += name
          Segment(name, Map(partCol -> (v, v)))
        }.toSeq
      require(segs.nonEmpty, s"partitioned layout: $partCol produced no partitions")
      segs
    } catch {
      case e: Throwable =>
        // undo partially-placed segments so a failed create leaves the
        // root empty (staging itself dies in the finally below)
        placed.foreach(n => f.delete(new Path(root, n), true))
        throw e
    } finally {
      f.delete(staging, true)
      ()
    }
  }

  /** APPEND commit: previous segments plus one new one — O(new data)
    * writes, O(1) metadata, exactly the log-structured insert path. */
  def append(spark: SparkSession, root: String, df: DataFrame,
      statCols: Seq[String] = Nil): Long = {
    val snap = snapOrInit(spark, root)
    commitSnap(spark, root, Some(snap),
      snap.segments :+ writeSegment(spark, root, df, statCols),
      None, None)
  }

  /** Replay-safe streaming-sink append: creates the table on the first
    * batch, appends on later ones, and SKIPS whole when `appId`'s fence
    * says `batchId` already committed (returns None) — at-least-once
    * `foreachBatch` delivery lands each micro-batch exactly once,
    * because the fence is a header OF the committed manifest, not a
    * separate artifact that could tear away from it. Monotone batch ids
    * (Structured Streaming's contract) are assumed PER appId: scope the
    * fence with the sink's query/checkpoint identity so a restarted
    * lineage (fresh checkpoint, batch ids back at 0) writes under a new
    * appId instead of being silently swallowed by an old fence. The
    * default empty appId keeps the one-writer-lineage behavior. */
  def appendFenced(
      spark: SparkSession, root: String, df: DataFrame,
      batchId: Long, statCols: Seq[String] = Nil,
      appId: String = ""): Option[Long] = {
    require(!appId.contains(':') && !appId.contains('\n'),
      s"appId may not contain ':' or newlines: $appId")
    val snap = snapshot(spark, root)
    if (snap.exists(_.fences.get(appId).exists(_ >= batchId))) return None
    Some(commitSnap(spark, root, snap,
      snap.map(_.segments).getOrElse(Seq.empty) :+
        writeSegment(spark, root, df, statCols),
      Some(appId -> batchId), None))
  }

  private def requireKeyConsistency(
      dels: Seq[Segment], keyCols: Seq[String]): Unit =
    require(dels.forall(_.keys == keyCols),
      s"table already carries equality deletes keyed on " +
        s"${dels.headOption.fold("?")(_.keys.mkString(","))}; " +
        s"all MOR operations must use the same key columns")

  /** Merge-on-read equality DELETE (the Iceberg v2 substance the
    * reference's table contract mandates,
    * `documents/wifi_measurement_s3_table_schema.md:69-76`): write the
    * KEY tuples of the rows `victims` selects as a `del_` segment and
    * commit — O(matched keys) written, ZERO data segments rewritten. At
    * read time the delete anti-joins against data segments with lower
    * seq only, so rows re-inserted after the delete stay visible.
    * `victims` sees the current deletes-applied table (optionally
    * stats-pruned to `prune`'s interval so the victim scan skips
    * disjoint segments) and is evaluated ONCE, by the segment write; the
    * key count comes from the written footers ([[commitDelete]]).
    * Null-keyed rows are dropped (they can never equality-match).
    * Returns (new version, keys deleted); no commit when nothing
    * matches. */
  def morDelete(
      spark: SparkSession, root: String, keyCols: Seq[String],
      victims: DataFrame => DataFrame,
      prune: Option[(String, Double, Double)] = None): (Long, Long) = {
    require(keyCols.nonEmpty, "morDelete needs at least one key column")
    val snap = snapOrInit(spark, root)
    requireKeyConsistency(snap.segments.filter(_.isDelete), keyCols)
    val visible = prune match {
      case Some((c, lo, hi)) => readPrunedSnap(spark, root, snap, c, lo, hi)
      case None              => readSnapshot(spark, root, snap)
    }
    val keysDf = victims(visible)
      .select(keyCols.map(col): _*).na.drop("any").distinct()
    commitDelete(spark, root, snap, writeSegment(spark, root, keysDf,
      statCols = keyCols, prefix = "del_", keys = keyCols))
  }

  /** Commit a freshly written delete segment, or — when it holds no rows —
    * remove it and keep the current version (the staged-then-discard
    * pattern [[writeDeleteSegment]] uses for null keys). The row count
    * comes from the written footers ([[rowCount]]), so the victims are
    * evaluated once, by the write itself; counting them first would
    * re-read the table and re-run the victim join. Returns (version,
    * rows in the segment). */
  private def commitDelete(
      spark: SparkSession, root: String, snap: Snapshot,
      seg: Segment): (Long, Long) = {
    val path = new Path(root, seg.name).toString
    val n = rowCount(spark, path)
    if (n == 0L) {
      fs(spark, root).delete(new Path(path), true)
      (snap.version, 0L)
    } else
      (commitSnap(spark, root, Some(snap), snap.segments :+ seg, None, None), n)
  }

  /** Merge-on-read UPSERT (MERGE WHEN MATCHED UPDATE / NOT MATCHED
    * INSERT): ONE commit carrying an equality-delete of `updates`' keys
    * plus a data segment of `updates`' rows — O(changed rows) written,
    * no table rewrite. Both segments get the SAME seq, and deletes apply
    * only to strictly older data, so the delete retires prior versions
    * of the keys while the fresh rows survive. The write side is
    * delta-sized regardless of table size — the CDC-apply shape that
    * keeps a 100 TB dimension maintainable per micro-batch. */
  def morUpsert(
      spark: SparkSession, root: String, updates: DataFrame,
      keyCols: Seq[String], statCols: Seq[String] = Nil): Long =
    morUpsertSnap(spark, root, snapOrInit(spark, root), updates, keyCols,
      None, statCols)

  /** [[morUpsert]] against an already-resolved [[Snapshot]], optionally
    * fenced — the one-resolution trigger-protocol entry: a foreachBatch
    * sink that fence-checked and read through the same snapshot commits
    * here without re-listing `_log` or re-reading the manifest. The OCC
    * pin is the snapshot's version, exactly as if the caller had gone
    * through [[morUpsert]]/[[morUpsertFenced]] back-to-back. */
  def morUpsertSnap(
      spark: SparkSession, root: String, snap: Snapshot, updates: DataFrame,
      keyCols: Seq[String], fence: Option[(String, Long)] = None,
      statCols: Seq[String] = Nil): Long = {
    require(keyCols.nonEmpty, "morUpsert needs at least one key column")
    requireKeyConsistency(snap.segments.filter(_.isDelete), keyCols)
    // the delete-keys and data segments are independent jobs over the
    // same (caller-checkpointed) frame with distinct target dirs — run
    // them CONCURRENTLY so the commit's wall clock is the larger write,
    // not the sum (the overlap-independent-jobs discipline; a failed
    // null-key check leaves at most one orphan segment, removeOrphans'
    // normal debt)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val (del, data) =
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        val delF = scala.concurrent.Future(
          writeDeleteSegment(spark, root, updates, keyCols))
        val dataF = scala.concurrent.Future(
          writeSegment(spark, root, updates, statCols))
        (scala.concurrent.Await.result(
          delF, scala.concurrent.duration.Duration.Inf),
          scala.concurrent.Await.result(
            dataF, scala.concurrent.duration.Duration.Inf))
      } finally pool.shutdown()
    commitSnap(spark, root, Some(snap), snap.segments :+ del :+ data,
      fence, None)
  }

  /** The equality-delete segment of an upsert: the distinct key tuples go
    * straight to the segment write — ONE Spark job — and the null-key
    * soundness check reads the WRITTEN files' footer null counts
    * (driver-side metadata, zero jobs) instead of the old
    * checkpoint-then-scan pre-check, which cost two extra jobs per MOR
    * commit. A null key can never equality-match, so letting one into a
    * delete would silently leave the matched row alive; on violation the
    * staged segment is removed and the commit never happens. Footers
    * without a trustworthy null count fall back to one scan of the
    * (delta-sized) written segment. */
  private def writeDeleteSegment(
      spark: SparkSession, root: String, updates: DataFrame,
      keyCols: Seq[String]): Segment = {
    val keysDf = updates.select(keyCols.map(col): _*).distinct()
    val seg = writeSegment(spark, root, keysDf,
      statCols = keyCols, prefix = "del_", keys = keyCols)
    val segPath = new Path(root, seg.name).toString
    val hasNull = footerNullCounts(spark, segPath, keyCols) match {
      case Some(m) => keyCols.exists(c => m.getOrElse(c, 0L) > 0L)
      case None => !readSegments(spark, Seq(segPath), mergeSchema = false)
        .where(keyCols.map(col(_).isNull).reduce(_ || _)).isEmpty
    }
    if (hasNull) {
      fs(spark, root).delete(new Path(root, seg.name), true)
      throw new IllegalArgumentException(
        "requirement failed: morUpsert: updates carry null keys")
    }
    seg
  }

  /** Per-column null counts summed from the parquet footers under `path`,
    * or None when any chunk lacks a trustworthy count (caller re-checks by
    * scanning). Driver-side metadata only — zero Spark jobs. */
  private def footerNullCounts(
      spark: SparkSession, path: String,
      cols: Seq[String]): Option[Map[String, Long]] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    try {
      val f = p.getFileSystem(conf)
      val files = f.listStatus(p).map(_.getPath).filter(isDataFile)
      val wanted = cols.toSet
      val acc = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      var ok = true
      files.foreach { fp =>
        val rd = ParquetFileReader.open(HadoopInputFile.fromPath(fp, conf))
        val footer = try rd.getFooter finally rd.close()
        footer.getBlocks.forEach { blk =>
          blk.getColumns.forEach { cc =>
            val name = cc.getPath.toDotString
            if (wanted(name)) {
              val st = cc.getStatistics
              if (st == null || !st.isNumNullsSet) ok = false
              else acc(name) += st.getNumNulls
            }
          }
        }
      }
      if (ok) Some(acc.toMap) else None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Total row count of a written parquet directory: from its footers —
    * driver-side metadata only, zero Spark jobs (the footerStats
    * discipline) — or, when any footer cannot be read, one counting
    * scan of the directory. */
  private def rowCount(spark: SparkSession, path: String): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val fromFooters =
      try {
        val p = new Path(path)
        val entries = p.getFileSystem(conf).listStatus(p)
        val parquetFiles = entries.map(_.getPath).filter(isDataFile)
        // A non-empty directory with NO directly-nested parquet files (e.g.
        // a future nested layout) is "unknown" (→ the counting scan), never
        // 0 — a bloom sized at 0 items is saturated and always-positive, a
        // silent perf degradation, and a delete counted 0 is discarded.
        if (parquetFiles.isEmpty && entries.nonEmpty) None
        else {
          var total = 0L
          parquetFiles.foreach { fp =>
            val rd = ParquetFileReader.open(HadoopInputFile.fromPath(fp, conf))
            try rd.getFooter.getBlocks.forEach(b => total += b.getRowCount)
            finally rd.close()
          }
          Some(total)
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    fromFooters.getOrElse(
      readSegments(spark, Seq(path), mergeSchema = false).count())
  }

  /** The Spark schema a segment's first footer carries — the
    * `org.apache.spark.sql.parquet.row.metadata` entry Spark writes into
    * every file — read on the driver, zero Spark jobs. None when the
    * segment has no directly-nested parquet file, the footer lacks the
    * entry (a file from another writer), or anything fails to read or
    * parse; the caller then lets Spark infer. */
  private def footerSchema(
      spark: SparkSession, path: String): Option[StructType] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    try {
      val p = new Path(path)
      val first = p.getFileSystem(conf).listStatus(p).map(_.getPath)
        .filter(isDataFile).minByOption(_.getName)
      first.flatMap { fp =>
        val rd = ParquetFileReader.open(HadoopInputFile.fromPath(fp, conf))
        val kv = try rd.getFooter.getFileMetaData.getKeyValueMetaData
          finally rd.close()
        Option(kv.get("org.apache.spark.sql.parquet.row.metadata"))
      }.map(DataType.fromJson).collect { case st: StructType => st }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The one reader of segment files: every scan of a segment group goes
    * through here. A parquet read without a schema launches a one-task
    * schema-inference job per call — one per segment group per table
    * read, a count that grows with every commit — although the schema it
    * infers is the one Spark wrote into the footer. This takes that
    * schema from the first segment's first footer on the driver
    * ([[footerSchema]]) and hands it to the reader, so building the frame
    * launches no job; the result has the same schema and rows. A footer
    * without the entry, and a `mergeSchema` read (which must see every
    * footer), infer exactly as Spark does. */
  private def readSegments(
      spark: SparkSession, paths: Seq[String],
      mergeSchema: Boolean): DataFrame =
    if (mergeSchema)
      spark.read.option("mergeSchema", "true").parquet(paths: _*)
    else footerSchema(spark, paths.head) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None         => spark.read.parquet(paths: _*)
    }

  /** Replay-safe streaming MOR upsert: [[morUpsert]] fenced per writer
    * lineage exactly like [[appendFenced]] — the CDC-apply sink. The
    * first batch of a fresh table commits as a plain create. */
  def morUpsertFenced(
      spark: SparkSession, root: String, updates: DataFrame,
      keyCols: Seq[String], batchId: Long, appId: String = "",
      statCols: Seq[String] = Nil): Option[Long] = {
    require(!appId.contains(':') && !appId.contains('\n'),
      s"appId may not contain ':' or newlines: $appId")
    val snap = snapshot(spark, root)
    if (snap.exists(_.fences.get(appId).exists(_ >= batchId))) return None
    if (snap.isEmpty)
      return Some(commitSnap(spark, root, None,
        Seq(writeSegment(spark, root, updates, statCols)),
        Some(appId -> batchId), None))
    Some(morUpsertSnap(spark, root, snap.get, updates, keyCols,
      Some(appId -> batchId), statCols))
  }

  /** Snapshot read with file provenance: the current rows (all deletes
    * of both kinds applied) plus `__pd_file`/`__pd_pos` — the physical
    * file each row lives in and its row index there. The substrate for
    * [[posDelete]] and [[changelogRows]]' position-retraction
    * enrichment. */
  private def readWithPos(
      spark: SparkSession, root: String, v: Long): DataFrame =
    readWithPosSnap(spark, root, snapshotAt(spark, root, v))

  private def readWithPosSnap(
      spark: SparkSession, root: String, snap: Snapshot): DataFrame = {
    val (datas, dels, pdels) = splitSegments(snap.segments)
    applyDeletes(spark, root, datas, dels,
      renames = snap.renames, pdels = pdels, keepPos = true)
  }

  /** POSITION DELETE (the Delta deletion-vector / Iceberg v2
    * position-delete substance): retire the LIVE rows matching `cond` by
    * recording their (file, row-index) tuples as a `pdel_` segment — ONE
    * delta-sized write, zero data segments rewritten, no key columns
    * required (the mechanism equality deletes cannot give a keyless or
    * duplicate-keyed table). Position tuples bind to physical files
    * (recorded exactly as Spark's `_metadata.file_path` renders them —
    * absolute URIs, so shallow-cloned external segments keep matching),
    * and files are immutable with forever-unique names, so a position
    * can never resurrect onto re-inserted data: no seq scoping needed.
    * Rewrites (mergeWhere/compaction/materialize) apply pending position
    * deletes before producing fresh files, exactly the Iceberg rewrite
    * rule. Scan-side cost is one broadcast anti-join on (file, pos) only
    * while deletion vectors exist; [[morMaterialize]] retires them.
    * `cond` evaluates against the deletes-applied snapshot, so an
    * already-deleted row is never recorded twice, and is evaluated once,
    * by the segment write ([[commitDelete]]). Returns (new version,
    * positions deleted); no commit when nothing matches. */
  def posDelete(
      spark: SparkSession, root: String,
      cond: org.apache.spark.sql.Column): (Long, Long) = {
    val snap = snapOrInit(spark, root)
    val victims = readWithPosSnap(spark, root, snap).where(cond)
      .select(col("__pd_file"), col("__pd_pos")).distinct()
    commitDelete(spark, root, snap,
      writeSegment(spark, root, victims, Nil, prefix = "pdel_"))
  }

  /** MATERIALIZE deletes (Iceberg's rewrite-with-deletes maintenance):
    * every data segment with at least one applicable delete is rewritten
    * individually with those deletes applied (stats recomputed on
    * `statCols`, pruning granularity preserved); untouched data segments
    * carry forward by reference; delete segments drop from the new
    * manifest. Content at head is IDENTICAL — this trades read-side
    * anti-join debt for a one-time write, out-of-band. Returns
    * (version, data segments rewritten, delete segments dropped); no
    * commit when the table carries no deletes. */
  def morMaterialize(
      spark: SparkSession, root: String,
      statCols: Seq[String] = Nil): (Long, Int, Int) = {
    val snap = snapOrInit(spark, root)
    val v = snap.version
    val (datas, dels, pdels) = splitSegments(snap.segments)
    if (dels.isEmpty && pdels.isEmpty) return (v, 0, 0)
    val chain = snap.renames
    // a segment is affected by a position delete iff the delete names one
    // of its files — the pdel content is delta-sized, so resolving the
    // named segment set is one small scan, not a table read
    val pdelSegs: Set[String] =
      if (pdels.isEmpty) Set.empty
      else readSegments(spark,
        pdels.map(s => new Path(root, s.name).toString), mergeSchema = false)
        .select("__pd_file").distinct().collect()
        .map(r => baseName(new Path(r.getString(0)).getParent.toString))
        .toSet
    val (affected, clean) =
      datas.partition(d =>
        dels.exists(_.seq > d.seq) || pdelSegs(baseName(d.name)))
    // all remaining deletes dangling (reference no live segment): retire
    // them with a metadata-only commit, nothing to rewrite
    if (affected.isEmpty)
      return (commitSnap(spark, root, Some(snap), clean, None, None),
        0, dels.length + pdels.length)
    // per-segment rewrites are independent (distinct target dirs) — submit
    // them as CONCURRENT Spark jobs so the wall clock is bounded by the
    // largest segment, not the per-job scheduling overhead times N
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, affected.length))
    val rewritten =
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(affected.map { d =>
            scala.concurrent.Future {
              writeSegment(spark, root,
                applyDeletes(spark, root, Seq(d), dels, renames = chain,
                  pdels = pdels),
                statCols)
            }
          }), scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    // every pdel-named segment was rewritten above, so ALL position
    // deletes retire with the equality deletes
    val nv = commitSnap(spark, root, Some(snap), clean ++ rewritten, None, None)
    (nv, affected.length, dels.length + pdels.length)
  }

  /** REPLACE commit (the copy-on-write UPDATE/DELETE shape): the new
    * version references ONLY the replacement segment; prior versions keep
    * referencing the old segments untouched — that is what makes them
    * still readable. At 100 TB prefer [[mergeWhere]], which replaces only
    * the affected interval's segments. */
  def replace(spark: SparkSession, root: String, df: DataFrame,
      statCols: Seq[String] = Nil): Long = {
    currentVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"$root has no version 0"))
    commit(spark, root, Seq(writeSegment(spark, root, df, statCols)))
  }

  /** RENAME a column — a METADATA-ONLY commit (the Iceberg
    * rename-without-rewrite substance): zero data files are touched; the
    * new manifest carries the same segment list with the column's stat
    * keys and delete-key names remapped, plus a `#rename=<v>:<from>:<to>`
    * chain entry that tells every future scan to map the old PHYSICAL
    * parquet name to the new logical one for segments written before
    * this version. Time travel is exact: a pre-rename snapshot resolves
    * through ITS manifest (no chain entry), so it reads under the old
    * name — the snapshot-scoped-schema behavior. Segments written after
    * the rename carry the new physical name; compaction/materialization
    * naturally migrate old segments' physical names forward. Renaming to
    * a previously-retired name is rejected while any live segment's era
    * still maps through it (the chain is a list, not a DAG). */
  def renameColumn(
      spark: SparkSession, root: String, from: String, to: String): Long = {
    val snap = snapOrInit(spark, root)
    require(from != to, "rename to the same name is a no-op")
    require(to.nonEmpty && !Seq('\t', '\n', ':', '=').exists(to.contains(_)) &&
      !Seq('\t', '\n', ':', '=').exists(from.contains(_)),
      s"column names in a rename may not contain tab/newline/':'/'=': " +
        s"'$from' -> '$to'")
    require(!snap.renames.exists(_._2 == to),
      s"'$to' is a retired physical name in this table's rename chain; " +
        "reusing it would make the physical->logical mapping ambiguous")
    val cols = readSnapshot(spark, root, snap).columns
    require(cols.contains(from), s"$root has no column '$from'")
    require(!cols.contains(to), s"$root already has a column '$to'")
    val remapped = snap.segments.map { s =>
      s.copy(
        stats = s.stats.map { case (c, r) => (if (c == from) to else c) -> r },
        keys = s.keys.map(k => if (k == from) to else k),
        sstats = s.sstats.map { case (c, r) =>
          (if (c == from) to else c) -> r
        })
    }
    commitSnap(spark, root, Some(snap), remapped, None, Some((from, to)))
  }

  /** The DATA segment paths a pruned read of `version` actually touches:
    * every data segment whose recorded `c` range intersects [lo, hi],
    * plus any with no recorded stat for `c`. This is the files-read
    * gate — specs and queries assert on its length. */
  def resolveSegments(
      spark: SparkSession, root: String, c: String, lo: Double, hi: Double,
      version: Option[Long] = None): Seq[String] = {
    val v = version.orElse(currentVersion(spark, root))
      .getOrElse(throw new IllegalStateException(s"$root has no versions"))
    segmentsOf(spark, root, v)
      .filterNot(s => s.isDelete || s.isPosDelete)
      .filter(_.mayIntersect(c, lo, hi))
      .map(s => new Path(root, s.name).toString)
  }

  /** Apply equality-delete segments to data segments — the merge-on-read
    * scan. Data segments are GROUPED by the set of deletes that apply to
    * them (delete seq strictly greater than data seq), each group
    * anti-joined against the union of exactly its applicable delete
    * files on the recorded key columns, groups unioned back. A table
    * with no deletes short-circuits to the plain multi-path parquet scan
    * — zero overhead on the common path. Every group reads through
    * [[readSegments]], so building the frame is driver-side metadata
    * only (manifest plus one footer per group) and launches no Spark job
    * before an action. Distinct delete-seq values are
    * few (one per MOR commit until materialization), so the plan stays
    * lean; delete files are small, so Spark broadcasts the anti-join's
    * build side. Keys are matched with SQL equality: delete rows never
    * carry null keys ([[morDelete]]/[[morUpsert]] drop/reject them). */
  private def applyDeletes(
      spark: SparkSession, root: String,
      datas: Seq[Segment], dels: Seq[Segment],
      mergeSchema: Boolean = false,
      renames: Seq[(Long, String, String)] = Nil,
      pdels: Seq[Segment] = Nil,
      keepPos: Boolean = false): DataFrame = {
    require(datas.nonEmpty, s"$root: no data segments to read")
    def p(n: String) = new Path(root, n).toString
    // POSITION deletes ((file, pos) tuples — Delta deletion vectors)
    // anti-join at the innermost scan on file provenance: `_metadata` is
    // only addressable on the direct file-source relation, and position
    // tuples bind to physical files, not logical rows, so they must
    // apply before renames/unions rearrange anything. Tables without
    // them (pdels empty, keepPos false) skip provenance entirely — zero
    // overhead on the common path. Position-delete files are tiny
    // relative to data, so AQE broadcasts the anti-join's build side.
    val posKill: Option[DataFrame] =
      if (pdels.isEmpty) None
      else Some(readSegments(spark, pdels.map(s => p(s.name)),
        mergeSchema = false)
        .select(col("__pd_file"), col("__pd_pos")).distinct())
    // segments sharing a physical schema era (same applicable renames)
    // scan together; eras with old physical names map to current logical
    // names BEFORE any join/union, so keys and schemas always line up
    def scan(segs: Seq[Segment]) =
      segs.groupBy(s => renameFor(renames, s.seq)).toSeq
        .sortBy(_._2.map(_.name).min)
        .map { case (rs, group) =>
          val raw0 = readSegments(spark, group.map(s => p(s.name)), mergeSchema)
          val raw =
            if (posKill.isEmpty && !keepPos) raw0
            else {
              val dataCols = raw0.columns.toSeq
              val withPos = raw0
                .withColumn("__pd_file", col("_metadata.file_path"))
                .withColumn("__pd_pos", col("_metadata.row_index"))
              val alive = posKill.fold(withPos)(k =>
                withPos.join(k, Seq("__pd_file", "__pd_pos"), "left_anti"))
              if (keepPos) alive
              else alive.select(dataCols.map(col): _*)
            }
          applyRenames(raw, rs)
        }
        .reduce(_.unionByName(_, allowMissingColumns = mergeSchema))
    if (dels.isEmpty) scan(datas)
    else {
      val keys = dels.head.keys
      require(keys.nonEmpty && dels.forall(_.keys == keys),
        s"$root: equality-delete segments disagree on key columns")
      // ONE seq-scoped anti-join instead of one anti-join per distinct
      // applicable-delete SET: every data row carries its segment's commit
      // seq as a per-(seq)-group literal (zero per-row derivation), the
      // delete side carries its seq the same way, and the residual
      // `del.seq > data.seq` on the key-equality match reproduces the
      // strictly-older scoping exactly. The old grouped form built one
      // broadcast hash relation PER GROUP — k broadcast-build jobs per
      // read on a table with k MOR commits since materialization; this
      // builds one (the union of all delete tuples, still delta-sized and
      // broadcast), so read-side job count no longer grows with commit
      // count. Rows with null keys survive either way (SQL equality).
      val dataU = datas.groupBy(_.seq).toSeq.sortBy(_._1)
        .map { case (sq, group) =>
          scan(group).withColumn("__vt_seq", lit(sq))
        }
        .reduce(_.unionByName(_, allowMissingColumns = mergeSchema))
      val delU = dels.groupBy(_.seq).toSeq.sortBy(_._1)
        .map { case (sq, group) =>
          scan(group).select(keys.map(col): _*)
            .withColumn("__vt_dseq", lit(sq))
        }
        .reduce(_.unionByName(_))
      val cond = keys.map(k => dataU(k) === delU(k)).reduce(_ && _) &&
        delU("__vt_dseq") > dataU("__vt_seq")
      dataU.join(delU, cond, "left_anti").drop("__vt_seq")
    }
  }

  /** Snapshot read: resolve `version` (default: latest) to its manifest's
    * segment list — immutable files, so the read is stable no matter what
    * commits land afterwards. Equality deletes (merge-on-read) are
    * applied scan-side; tables without them read as a plain parquet
    * scan. `mergeSchema = true` turns on SCHEMA EVOLUTION: the snapshot's
    * schema is the union of its segments' schemas (columns absent in
    * older segments read as null) — and because each version resolves
    * only ITS segments, an old snapshot keeps reading with exactly the
    * schema it was written under, the Iceberg snapshot-scoped-schema
    * behavior. Costs one footer read per file; default off.
    *
    * Building the frame is driver-side metadata only: the manifest, plus
    * one footer per segment group for its schema ([[readSegments]]). No
    * Spark job runs until an action, except one schema-inference job per
    * group headed by a segment without Spark's schema key (an external
    * file imported by [[importDir]]) and the `mergeSchema` footer merge. */
  def read(
      spark: SparkSession, root: String,
      version: Option[Long] = None,
      mergeSchema: Boolean = false): DataFrame =
    readSnapshot(spark, root, resolveSnap(spark, root, version), mergeSchema)

  /** [[read]] against an already-resolved [[Snapshot]] — callers that
    * fence-check, read, and commit in one logical operation (the
    * streaming trigger protocol) resolve the manifest once and thread it
    * through instead of paying a listing + manifest read per step. */
  def readSnapshot(
      spark: SparkSession, root: String, snap: Snapshot,
      mergeSchema: Boolean = false): DataFrame = {
    val (datas, dels, pdels) = splitSegments(snap.segments)
    applyDeletes(spark, root, datas, dels, mergeSchema, snap.renames, pdels)
  }

  /** Stats-pruned snapshot read of rows with `c` in [lo, hi]: whole
    * segments disjoint from the interval are never opened (manifest-level
    * data skipping); the residual predicate still applies because a
    * surviving segment may carry out-of-range rows. Delete segments
    * prune the same way on their KEY stats — sound because a delete row
    * with `c` (a key) outside the interval cannot key-match any surviving
    * output row; deletes without a stat on `c` are conservatively kept. */
  def readPruned(
      spark: SparkSession, root: String, c: String, lo: Double, hi: Double,
      version: Option[Long] = None): DataFrame =
    readPrunedSnap(spark, root, resolveSnap(spark, root, version), c, lo, hi)

  private def readPrunedSnap(
      spark: SparkSession, root: String, snap: Snapshot,
      c: String, lo: Double, hi: Double): DataFrame = {
    val (datas0, dels0, pdels) = splitSegments(snap.segments)
    val datas = datas0.filter(_.mayIntersect(c, lo, hi))
    if (datas.isEmpty) readSnapshot(spark, root, snap).where(lit(false))
    // position deletes are NEVER pruned: they bind to files, not value
    // ranges, and dropping one would resurrect its deleted rows
    else applyDeletes(spark, root, datas,
      dels0.filter(_.mayIntersect(c, lo, hi)),
      renames = snap.renames, pdels = pdels)
      .where(col(c).cast("double") >= lo && col(c).cast("double") <= hi)
  }

  /** STRING-interval pruned snapshot read — [[readPruned]] over the
    * truncated string bounds (the Iceberg truncate-transform pruning a
    * dimension like `source`/`lang`/tenant needs, where the partition
    * value is text): whole segments whose recorded [lower, upper]
    * misses [lo, hi] are never opened; the residual predicate still
    * applies (truncated bounds are conservative by construction).
    * Equality lookups pass `lo = hi = value`. Deletes of either kind
    * are never pruned here (equality-delete key stats are numeric;
    * position deletes bind to files). */
  def readPrunedStr(
      spark: SparkSession, root: String, c: String, lo: String, hi: String,
      version: Option[Long] = None): DataFrame = {
    val snap = resolveSnap(spark, root, version)
    val (datas0, dels, pdels) = splitSegments(snap.segments)
    val datas = datas0.filter(_.mayIntersectStr(c, lo, hi))
    if (datas.isEmpty) readSnapshot(spark, root, snap).where(lit(false))
    else applyDeletes(spark, root, datas, dels,
      renames = snap.renames, pdels = pdels)
      .where(col(c) >= lo && col(c) <= hi)
  }

  /** The data segment paths [[readPrunedStr]] opens — the files-read
    * gate for string-bound pruning. */
  def resolveSegmentsStr(
      spark: SparkSession, root: String, c: String, lo: String, hi: String,
      version: Option[Long] = None): Seq[String] = {
    val v = version.orElse(currentVersion(spark, root))
      .getOrElse(throw new IllegalStateException(s"$root has no versions"))
    segmentsOf(spark, root, v)
      .filterNot(s => s.isDelete || s.isPosDelete)
      .filter(_.mayIntersectStr(c, lo, hi))
      .map(s => new Path(root, s.name).toString)
  }

  /** Copy-on-write MERGE scoped by manifest stats: segments whose `c`
    * range intersects [lo, hi] are read, passed through `transform`
    * (label UPDATE, purge DELETE, upsert — any row-set rewrite), and
    * rewritten as ONE new segment; every disjoint segment carries forward
    * BY REFERENCE with its stats. The prior version stays readable — the
    * Iceberg v2 audit property the in-place MergeOps swap cannot give.
    * Returns (new version, segments rewritten, segments carried). */
  def mergeWhere(
      spark: SparkSession, root: String, c: String, lo: Double, hi: Double,
      transform: DataFrame => DataFrame,
      statCols: Seq[String] = Nil): (Long, Int, Int) = {
    val snap = snapOrInit(spark, root)
    val (datas, dels, pdels) = splitSegments(snap.segments)
    val (touched, carried) = datas.partition(_.mayIntersect(c, lo, hi))
    if (touched.isEmpty) return (snap.version, 0, carried.length)
    // pending deletes of BOTH kinds MUST be applied to the touched slice
    // before the rewrite: the rewritten segment gets a NEW seq (and new
    // file paths), so older deletes stop applying to it — materializing
    // them here is what keeps deleted rows from resurrecting (the
    // Iceberg rewrite rule). Position deletes still carry forward for
    // the carried segments' files; entries naming rewritten-away files
    // match nothing and retire at the next materialization.
    val touchedDf = applyDeletes(spark, root, touched, dels,
      renames = snap.renames, pdels = pdels)
    val rewritten = writeSegment(spark, root, transform(touchedDf), statCols)
    val nv = commitSnap(spark, root, Some(snap),
      (carried ++ dels ++ pdels) :+ rewritten, None, None)
    (nv, touched.length, carried.length)
  }

  /** INCREMENTAL READ (Iceberg's incremental scan / changelog-consumption
    * substance): the rows ADDED between two snapshots, resolved entirely
    * from manifest set-difference — segments referenced by `toV` but not
    * by `fromV`. For append-only tables this is exactly the appended
    * batches; the downstream-ETL pattern "process what's new since
    * checkpoint version N" costs the NEW segments only, never a diff scan
    * of the table. COW commits (replace/merge/compact) rewrite segments,
    * so their output segments appear as "added" — callers consuming a
    * changelog across rewrites should checkpoint around maintenance
    * commits (the Iceberg restriction, documented here rather than
    * hidden). Returns None when no segments were added. */
  def incrementalRead(
      spark: SparkSession, root: String, fromV: Long,
      toV: Long): Option[DataFrame] = {
    // DATA segments only: an added `del_`/`pdel_` segment is a
    // retraction, not an insert (and has the key/position schema) —
    // changelog consumers read deletions via the manifest's delete
    // entries instead. Kind, not name prefix: an importDir entry's
    // basename is arbitrary but it IS new data.
    val snap = snapshotAt(spark, root, toV)
    val old = segmentsOf(spark, root, fromV).map(_.name).toSet
    val added = snap.segments
      .filter(s => !old(s.name) && !s.isDelete && !s.isPosDelete)
    if (added.isEmpty) None
    else {
      // rows surface under toV's CURRENT names: a segment added before a
      // later in-window rename still carries the old physical name
      val chain = snap.renames
      Some(added.groupBy(s => renameFor(chain, s.seq)).toSeq
        .sortBy(_._2.map(_.name).min)
        .map { case (rs, group) =>
          applyRenames(readSegments(spark,
            group.map(s => new Path(root, s.name).toString),
            mergeSchema = false), rs)
        }.reduce(_.unionByName(_)))
    }
  }

  /** One commit's worth of CDC output: the rows its data segments added
    * and the key tuples its delete segments retracted. Apply in version
    * order: first anti-join `deletedKeys` on `keyCols`, then union
    * `inserted` — a MOR upsert (delete+insert in one commit) then
    * reproduces last-writer-wins exactly. */
  final case class ChangeSet(
      version: Long, inserted: Option[DataFrame],
      deletedKeys: Option[DataFrame], keyCols: Seq[String],
      /** Retractions from a POSITION-delete commit, as (`__pd_file`,
        * `__pd_pos`) tuples. A plain [[applyChangelog]] fold cannot apply
        * these (a downstream base carries no file provenance) — consume
        * them through [[changelogRows]], which resolves the positions to
        * full rows against the pre-commit snapshot. */
      posDeleted: Option[DataFrame] = None)

  /** CHANGELOG scan (Iceberg's changelog / Delta CDF substance): the
    * ordered per-commit change sets between two snapshots, derived
    * purely from consecutive MANIFEST DIFFS — segments present at v but
    * not v-1. Inserts cost exactly the new data segments; retractions
    * cost exactly the new delete segments (key tuples — equality deletes
    * don't know the full deleted rows, and don't need to: downstream
    * applies them as anti-joins). Folding every change set over the
    * `fromV` snapshot reproduces the `toV` snapshot bit-for-bit (gated
    * by a43's oracle). Maintenance commits (compaction/materialization)
    * rewrite segments, so their output shows as inserts — consume
    * changelogs around maintenance, the same restriction as
    * [[incrementalRead]]. A [[renameColumn]] commit likewise adds no
    * segments (empty change set) but changes the logical names later
    * change sets surface under — checkpoint changelog consumption around
    * schema commits too. Requires the intermediate manifests to still
    * exist (not expired). */
  def changelog(
      spark: SparkSession, root: String, fromV: Long,
      toV: Long): Seq[ChangeSet] = {
    require(fromV <= toV, s"fromV $fromV must be <= toV $toV")
    // consecutive manifests share a version: carry each parse forward so
    // the window costs toV-fromV+1 manifest reads, not twice that
    var prev = segmentsOf(spark, root, fromV).map(_.name).toSet
    (fromV + 1 to toV).flatMap { v =>
      val cur = segmentsOf(spark, root, v)
      val added = cur.filterNot(s => prev(s.name))
      prev = cur.map(_.name).toSet
      val (datas, dels, pdels) = splitSegments(added)
      if (added.isEmpty) None
      else {
        def readAll(segs: Seq[Segment]) =
          if (segs.isEmpty) None
          else Some(readSegments(spark,
            segs.map(s => new Path(root, s.name).toString),
            mergeSchema = false))
        Some(ChangeSet(v, readAll(datas), readAll(dels),
          dels.headOption.map(_.keys).getOrElse(Nil),
          readAll(pdels).map(_.select(col("__pd_file"), col("__pd_pos")))))
      }
    }
  }

  /** Fold a [[changelog]] onto a base frame (the `fromV` snapshot or a
    * downstream replica): per change set, retract then insert. */
  def applyChangelog(base: DataFrame, changes: Seq[ChangeSet]): DataFrame = {
    require(changes.forall(_.posDeleted.isEmpty),
      "changelog contains position-delete commits; a plain base has no " +
        "file provenance to apply them against — consume via changelogRows")
    changes.foldLeft(base) { (df, cs) =>
      val retracted = cs.deletedKeys.fold(df)(ks =>
        df.join(ks, cs.keyCols, "left_anti"))
      cs.inserted.fold(retracted)(ins => retracted.unionByName(ins))
    }
  }

  /** One commit's changes with retractions enriched to FULL ROWS. */
  final case class RowChangeSet(
      version: Long, inserted: Option[DataFrame],
      deletedRows: Option[DataFrame])

  /** [[changelog]] with each change set's deleted KEYS resolved to the
    * full rows they removed, by semi-joining the PRE-COMMIT snapshot
    * (version − 1) on the recorded key columns — the Iceberg
    * changelog-scan behavior of emitting whole deleted rows, which is
    * what downstream INCREMENTAL VIEW MAINTENANCE needs (an aggregate
    * can only retract a row it can see). Keys are delta-sized and
    * broadcast; the snapshot probe is one stats-prunable scan per
    * delete-carrying commit. Upsert commits (delete+insert at the same
    * version) enrich correctly: keys absent at v−1 resolve to no
    * retraction, exactly the pure-insert case. */
  def changelogRows(
      spark: SparkSession, root: String, fromV: Long,
      toV: Long): Seq[RowChangeSet] =
    changelog(spark, root, fromV, toV).map { cs =>
      val byKey = cs.deletedKeys.map(ks =>
        read(spark, root, Some(cs.version - 1))
          .join(ks, cs.keyCols, "left_semi"))
      // position retractions resolve against the pre-commit snapshot read
      // WITH provenance: semi-join on (file, pos) surfaces exactly the
      // rows the deletion vector removed, as full rows
      val byPos = cs.posDeleted.map(ps =>
        readWithPos(spark, root, cs.version - 1)
          .join(ps, Seq("__pd_file", "__pd_pos"), "left_semi")
          .drop("__pd_file", "__pd_pos"))
      RowChangeSet(cs.version, cs.inserted,
        (byKey, byPos) match {
          case (Some(a), Some(b)) => Some(a.unionByName(b))
          case (a, b)             => a.orElse(b)
        })
    }

  /** Segment names referenced by `toV` but not `fromV` — the files an
    * incremental read opens; exposed for files-read gates. */
  def addedSegments(
      spark: SparkSession, root: String, fromV: Long, toV: Long): Seq[String] = {
    require(fromV <= toV, s"fromV $fromV must be <= toV $toV")
    val old = segmentsOf(spark, root, fromV).map(_.name).toSet
    segmentsOf(spark, root, toV).map(_.name).filterNot(old)
  }

  private def bloomPath(root: String, seg: String, c: String) =
    new Path(root, s"_blooms/$seg.$c.bloom")

  /** Build per-segment BLOOM FILTER sidecars on integer key column `c`
    * for every live data segment lacking one (the Iceberg puffin-blob
    * substance): min/max stats cannot prune point lookups when key
    * ranges overlap across segments (round-robin/bucketed layouts —
    * exactly the reference's S8 `mac_addr` lookup shape), but a bloom
    * answers "definitely not here" per segment in O(1). Sidecars are
    * DERIVED data: staged + renamed (atomic), consulted opportunistically
    * at lookup, never part of the commit protocol — a missing bloom
    * degrades to reading the segment, a dead segment's bloom is vacuumed
    * with it. Builds run as concurrent Spark jobs. Returns sidecars
    * built. */
  def buildBlooms(
      spark: SparkSession, root: String, c: String,
      fpp: Double = 0.01): Int = {
    val v = currentVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"$root has no versions"))
    val f = fs(spark, root)
    // external (shallow-clone) references are skipped: sidecar names
    // embed the bare segment name, and a bloom belongs to the table that
    // OWNS the file — lookups degrade to conservatively reading them
    val missing = segmentsOf(spark, root, v)
      .filterNot(s => s.isDelete || s.isPosDelete)
      .filterNot(s => isExternal(s.name))
      .filterNot(s => f.exists(bloomPath(root, s.name, c)))
    if (missing.isEmpty) return 0
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, missing.length))
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(missing.map { s =>
          scala.concurrent.Future {
            val segPath = new Path(root, s.name).toString
            // expectedNumItems from the parquet FOOTERS (driver-side
            // metadata, zero jobs) — a df.count() would be a whole extra
            // scan job per segment. Row count (not NDV) is the upper
            // bound the sizing needs.
            val rows = rowCount(spark, segPath)
            val bf = readSegments(spark, Seq(segPath), mergeSchema = false)
              .stat.bloomFilter(c, math.max(rows, 1L), fpp)
            val tmp = new Path(root, s"_blooms/.${s.name}.$c.tmp")
            val out = f.create(tmp, true)
            try bf.writeTo(out) finally out.close()
            if (!f.rename(tmp, bloomPath(root, s.name, c)))
              throw new java.io.IOException(
                s"cannot place bloom for ${s.name}.$c")
          }
        }), scala.concurrent.duration.Duration.Inf)
    } finally pool.shutdown()
    missing.length
  }

  /** The data segments a POINT LOOKUP `c = value` must open: min/max
    * stats first, then each surviving segment's bloom sidecar (segments
    * without one are conservatively kept). This is the files-read gate
    * point lookups assert on. */
  def resolvePointLookup(
      spark: SparkSession, root: String, c: String, value: Long,
      version: Option[Long] = None): Seq[String] =
    pointLookupNames(spark, root, resolveSnap(spark, root, version), c, value)

  private def pointLookupNames(
      spark: SparkSession, root: String, snap: Snapshot, c: String,
      value: Long): Seq[String] = {
    val f = fs(spark, root)
    snap.segments
      .filterNot(s => s.isDelete || s.isPosDelete)
      .filter(_.mayIntersect(c, value.toDouble, value.toDouble))
      .filter { s =>
        // external (shallow-clone) refs never have local sidecars; their
        // name would not even form a valid sidecar path — keep them
        if (isExternal(s.name)) true
        else {
        val bp = bloomPath(root, s.name, c)
        if (!f.exists(bp)) true
        else {
          val in = f.open(bp)
          try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
            .mightContainLong(value)
          finally in.close()
        }
        }
      }
      .map(_.name)
  }

  /** Bloom-and-stats-pruned point lookup `c = value`, merge-on-read
    * deletes applied. Opens only [[resolvePointLookup]]'s segments. */
  def readPoint(
      spark: SparkSession, root: String, c: String, value: Long,
      version: Option[Long] = None): DataFrame = {
    val snap = resolveSnap(spark, root, version)
    val names = pointLookupNames(spark, root, snap, c, value).toSet
    val (datas0, dels, pdels) = splitSegments(snap.segments)
    val datas = datas0.filter(s => names(s.name))
    if (datas.isEmpty) readSnapshot(spark, root, snap).where(lit(false))
    else applyDeletes(spark, root, datas,
      dels.filter(_.mayIntersect(c, value.toDouble, value.toDouble)),
      pdels = pdels,
      renames = snap.renames)
      .where(col(c) === value)
  }

  /** Data bytes of each live segment at head — the sizing input callers
    * use to pick [[compactSmall]]'s threshold corpus-relatively. */
  def segmentBytes(spark: SparkSession, root: String): Seq[(String, Long)] = {
    val v = currentVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"$root has no versions"))
    val f = fs(spark, root)
    segmentsOf(spark, root, v).map(s =>
      s.name -> f.getContentSummary(new Path(root, s.name)).getLength)
  }

  /** COMPACTION as a COMMIT (Iceberg's rewrite_data_files): live segments
    * whose data size is at or below `smallBytes` are read once and
    * rewritten as ONE segment; larger segments carry forward BY REFERENCE.
    * The merged segment's stats come from the carried manifests' stats
    * (interval union per column — no rescan; a column missing a stat on
    * ANY merged segment stays statless, the conservative join). Content is
    * unchanged at head, every prior version stays readable, and the old
    * small segments become vacuum candidates only when their snapshots
    * expire — compaction never deletes. Streaming appends are the natural
    * producer of the small-segment tail this folds (one segment per
    * micro-batch); at 100 TB this runs out-of-band per partition.
    * Returns (new version, segments merged, segments carried); no commit
    * happens when fewer than 2 segments qualify. */
  def compactSmall(
      spark: SparkSession, root: String,
      smallBytes: Long): (Long, Int, Int) = {
    val snap = snapOrInit(spark, root)
    val f = fs(spark, root)
    val (datas, dels, pdels) = splitSegments(snap.segments)
    val (small, big0) = datas.partition { s =>
      f.getContentSummary(new Path(root, s.name)).getLength <= smallBytes
    }
    val big = big0 ++ dels ++ pdels // delete segments never fold into data
    if (small.length < 2) return (snap.version, 0, datas.length)
    // applicable deletes (both kinds) materialize into the merged segment
    // (its new seq and fresh files put it beyond their reach), exactly as
    // in mergeWhere
    val merged = applyDeletes(spark, root, small, dels,
      renames = snap.renames, pdels = pdels)
    val name = "seg_" + java.util.UUID.randomUUID().toString.replace("-", "")
    merged.coalesce(1).write.parquet(new Path(root, name).toString)
    // stats union straight from the manifest — the merged interval per
    // column, defined only when EVERY merged segment carried that stat
    val statKeys = small.map(_.stats.keySet).reduce(_ intersect _)
    val stats = statKeys.map { c =>
      val (mns, mxs) = small.map(_.stats(c)).unzip
      c -> (mns.min, mxs.max)
    }.toMap
    // string-bound union: defined only when EVERY folded segment carries
    // the stat; lo = min of lowers, hi = max of uppers — truncated-and-
    // incremented uppers stay valid upper bounds under max
    val sstatKeys = small.map(_.sstats.keySet).reduce(_ intersect _)
    val sstats = sstatKeys.map { c =>
      val (los, his) = small.map(_.sstats(c)).unzip
      c -> (los.min, his.max)
    }.toMap
    val nv = commitSnap(spark, root, Some(snap),
      big :+ Segment(name, stats, sstats = sstats), None, None)
    (nv, small.length, big.length)
  }

  /** BIN-PACKED compaction (Iceberg rewrite_data_files' binpack
    * strategy): data segments at or below `smallBytes` greedily pack
    * into bins of ~`targetBytes` (first-fit descending); each
    * multi-segment bin rewrites as ONE segment — bins concurrently,
    * applicable deletes materialized, stats unioned from the folded
    * manifest lines (no rescan) — while single-segment bins and large
    * segments carry forward by reference. Unlike [[compactSmall]]'s
    * whole-tail fold, outputs stay BOUNDED: at 100 TB one mega-segment
    * would undo file-level parallelism, pruning granularity, and
    * per-segment rewrite locality. Returns (version, bins written,
    * segments folded); no commit when nothing folds. */
  def compactBinpack(
      spark: SparkSession, root: String, smallBytes: Long,
      targetBytes: Long): (Long, Int, Int) = {
    val snap = snapOrInit(spark, root)
    val v = snap.version
    val f = fs(spark, root)
    val (datas, dels, pdels) = splitSegments(snap.segments)
    val chain = snap.renames
    val sized = datas.map(s =>
      s -> f.getContentSummary(new Path(root, s.name)).getLength)
    val (small, big) = sized.partition(_._2 <= smallBytes)
    // first-fit DESCENDING: sort big-to-small, drop each into the first
    // bin with room — the classic near-optimal greedy
    val bins = scala.collection.mutable.ArrayBuffer
      .empty[(scala.collection.mutable.ArrayBuffer[Segment], Long)]
    small.sortBy(-_._2).foreach { case (s, bytes) =>
      bins.indexWhere(_._2 + bytes <= targetBytes) match {
        case -1 =>
          bins += ((scala.collection.mutable.ArrayBuffer(s), bytes))
        case i =>
          bins(i) = (bins(i)._1 += s, bins(i)._2 + bytes)
      }
    }
    val (foldable, singles) = bins.map(_._1.toSeq).partition(_.length >= 2)
    if (foldable.isEmpty) return (v, 0, 0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, foldable.length))
    val written =
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(foldable.map { bin =>
            scala.concurrent.Future {
              val merged = applyDeletes(spark, root, bin, dels,
                renames = chain, pdels = pdels)
              val name =
                "seg_" + java.util.UUID.randomUUID().toString.replace("-", "")
              merged.coalesce(1).write.parquet(new Path(root, name).toString)
              val statKeys = bin.map(_.stats.keySet).reduce(_ intersect _)
              val stats = statKeys.map { c =>
                val (mns, mxs) = bin.map(_.stats(c)).unzip
                c -> (mns.min, mxs.max)
              }.toMap
              val sstatKeys = bin.map(_.sstats.keySet).reduce(_ intersect _)
              val sstats = sstatKeys.map { c =>
                val (los, his) = bin.map(_.sstats(c)).unzip
                c -> (los.min, his.max)
              }.toMap
              Segment(name, stats, sstats = sstats)
            }
          }), scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    val carried = big.map(_._1) ++ singles.flatten ++ dels ++ pdels
    val nv = commitSnap(spark, root, Some(snap), carried ++ written, None, None)
    (nv, written.length, foldable.map(_.length).sum)
  }

  /** TAG a snapshot (the Iceberg named-reference substance): an
    * IMMUTABLE name → version binding, created create-exclusively in the
    * log (`_log/tag.<name>` — two racers for one name: exactly one wins,
    * the same primitive as the manifest CAS) and honored by
    * [[expireSnapshots]]: a tagged version's manifest and segments are
    * RETAINED regardless of the keep-window — the audit/repro pin
    * ("gold", "q3-release") that survives routine expiry. Tags never
    * move; [[deleteTag]] is the only way to release one. */
  def tag(spark: SparkSession, root: String, name: String, version: Long): Unit = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"tag names are [A-Za-z0-9._-]+: '$name'")
    val f = fs(spark, root)
    // binding a tag to a missing version is an error NOW, not at read time
    manifestLines(spark, root, version)
    val p = new Path(logDir(root), s"tag.$name")
    val scheme = Option(f.getUri.getScheme).getOrElse("file")
    // The tag is STAGED fully written, then published with the same
    // create-exclusive primitive as publishManifest — a concurrent
    // tags()/expireSnapshots() can never observe a created-but-empty tag
    // file (readLine() → null → NPE, the pre-fix race): the name appears
    // only once its content is durable. Staging name is writer-unique so
    // two racers for the same tag never corrupt each other's bytes; the
    // exclusive publish then arbitrates.
    val tmp = new Path(logDir(root), s".tag.$name." +
      java.util.UUID.randomUUID().toString.replace("-", "") + ".tmp")
    val out = f.create(tmp, true)
    try out.write(version.toString.getBytes("UTF-8")) finally out.close()
    try {
      if (scheme == "file") {
        // POSIX atomic no-replace = hard-link creation (EEXIST on
        // conflict); Rename.NONE is only check-then-act locally
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(p.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        f.delete(tmp, false)
        ()
      } else {
        // HDFS-like stores arbitrate no-overwrite renames server-side
        FileContext.getFileContext(p.toUri,
          spark.sparkContext.hadoopConfiguration)
          .rename(tmp, p, Options.Rename.NONE)
      }
    } catch {
      case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                _: java.nio.file.FileAlreadyExistsException) =>
        f.delete(tmp, false)
        throw new java.io.IOException(
          s"tag '$name' already exists (tags are immutable; deleteTag first)", e)
      case e: Exception =>
        f.delete(tmp, false)
        throw e
    }
  }

  /** All tags of `root`: name → version. */
  def tags(spark: SparkSession, root: String): Map[String, Long] = {
    val f = fs(spark, root)
    val dir = logDir(root)
    if (!f.exists(dir)) return Map.empty
    f.listStatus(dir).map(_.getPath).toSeq
      .filter(_.getName.startsWith("tag."))
      .map { p =>
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(f.open(p), "UTF-8"))
        try p.getName.stripPrefix("tag.") -> in.readLine().trim.toLong
        finally in.close()
      }.toMap
  }

  /** Release a tag; its version becomes expirable again. */
  def deleteTag(spark: SparkSession, root: String, name: String): Boolean =
    fs(spark, root).delete(new Path(logDir(root), s"tag.$name"), false)

  /** Snapshot read by tag name. */
  def readTag(spark: SparkSession, root: String, name: String): DataFrame = {
    val v = tags(spark, root).getOrElse(name,
      throw new IllegalArgumentException(s"$root has no tag '$name'"))
    read(spark, root, Some(v))
  }

  /** Expire snapshots older than the newest `keep` versions: drop their
    * manifests, then delete segments that are BOTH unreferenced by every
    * retained manifest AND older than `segmentRetainMs` — the Iceberg
    * expire-snapshots age discipline, so a vacuum racing a concurrent
    * writer never deletes its staged-but-uncommitted segment (writeSegment
    * runs before its commit). `segmentRetainMs = 0` deletes immediately
    * and is safe only under single-writer maintenance (the test default).
    * TAGGED versions are retained regardless of the keep-window, with
    * everything they reference. Returns (versions dropped, segments
    * deleted). */
  def expireSnapshots(
      spark: SparkSession, root: String, keep: Int,
      segmentRetainMs: Long = 0L): (Int, Int) = {
    require(keep >= 1, "must keep at least the current version")
    val f = fs(spark, root)
    val dir = logDir(root)
    if (!f.exists(dir)) return (0, 0)
    val vs = f.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong
      }.sorted
    val pinned = tags(spark, root).values.toSet
    val dropped = vs.dropRight(keep).filterNot(pinned)
    val kept = vs.takeRight(keep) ++ vs.dropRight(keep).filter(pinned)
    val liveSegs = kept.flatMap(segmentsOf(spark, root, _).map(_.name)).toSet
    dropped.foreach(v => f.delete(manifest(root, v), false))
    val cutoff = System.currentTimeMillis() - segmentRetainMs
    val deadSegs = f.listStatus(new Path(root))
      .filter { st =>
        val n = st.getPath.getName
        (n.startsWith("seg_") || n.startsWith("del_") ||
          n.startsWith("pdel_")) &&
          !liveSegs(n) && st.getModificationTime <= cutoff
      }
      .map(_.getPath)
    deadSegs.foreach(f.delete(_, true))
    // derived bloom sidecars die with their segments
    val bloomDir = new Path(root, "_blooms")
    if (f.exists(bloomDir)) {
      val deadNames = deadSegs.map(_.getName).toSet
      f.listStatus(bloomDir)
        .filter(st => deadNames.exists(d => st.getPath.getName.startsWith(d + ".")))
        .foreach(st => f.delete(st.getPath, false))
    }
    (dropped.length, deadSegs.length)
  }
}
