package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one shared lifecycle for ingest-time artifacts ([[IvfIndex]],
  * [[LshIndex]], [[DedupIndex]]): stale-check against the source corpus
  * mtime, build into a unique per-attempt staging dir, commit with one
  * atomic rename, tolerate losing a concurrent-build race, read back.
  * Keeping it in one place means a lifecycle fix (visibility, races,
  * staleness) lands everywhere at once instead of drifting per index.
  */
object ArtifactStore {

  /** Root directory of one artifact family: `<root>/<family>`, where
    * `<root>` is the session conf `graft.artifactRoot`, else the env var
    * `GRAFT_ARTIFACT_ROOT`, else `artifacts` under the working directory. */
  def root(spark: SparkSession, family: String): String =
    Paths.get(spark.conf.getOption("graft.artifactRoot")
      .orElse(sys.env.get("GRAFT_ARTIFACT_ROOT")).getOrElse("artifacts"), family)
      .toAbsolutePath.toString

  /** Read the artifact `root/key`, building it first if missing or stale.
    *
    * @param sourceFile the corpus file whose mtime invalidates the
    *        artifact: regenerated corpus → rebuild, never silent reuse
    * @param build writes the artifact's parquet to the given staging path
    *        (the caller picks options like `partitionBy`)
    */
  /** Name of the provenance file written INTO each artifact directory
    * (underscore prefix: invisible to Spark's parquet listing). It
    * records the source path the artifact derives from, which is what
    * lets [[sweepStale]] find artifacts whose corpus is gone. */
  private val SourceMarker = "_source"

  private def writeSourceMarker(dir: String, sourceFile: String): Unit =
    try Files.write(Paths.get(dir, SourceMarker),
      sourceFile.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: java.io.IOException => () } // provenance is best-effort

  def ensure(spark: SparkSession, sourceFile: String, root: String,
      key: String)(build: String => Unit): DataFrame =
    graft.RelationCache.parquet(spark, ensureDir(sourceFile, root, key)(build))

  /** The lifecycle without the parquet read — for artifacts that are a
    * DIRECTORY OF RAW FILES rather than a parquet table (e.g. the media
    * fixture a [[graft.sources.MediaSource]] scan reads). Same contract:
    * staleness vs the source's mtime, build into a unique staging dir,
    * one atomic rename wins, provenance marker rides along. Returns the
    * committed directory path. */
  def ensureDir(sourceFile: String, root: String,
      key: String)(build: String => Unit): String = {
    val target = Paths.get(s"$root/$key")
    val source = Paths.get(sourceFile)
    if (Files.exists(target) && Files.exists(source) &&
        Files.getLastModifiedTime(source).compareTo(Files.getLastModifiedTime(target)) > 0)
      org.apache.commons.io.FileUtils.deleteDirectory(target.toFile)
    if (!Files.exists(target)) {
      // unique per-attempt staging dir: concurrent builders each write
      // their own area; exactly one wins the atomic rename
      val tmp = Paths.get(s"$root/__build_${key}_${java.util.UUID.randomUUID()}")
      build(tmp.toString)
      writeSourceMarker(tmp.toString, sourceFile) // provenance rides the rename
      try Files.move(tmp, target)
      catch { // lost the race: the winner's artifact is equivalent
        case _: java.nio.file.FileAlreadyExistsException =>
          org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
      }
    }
    target.toString
  }

  // ---- segmented artifacts (incremental append) -------------------------
  //
  // The single-shot `ensure` rebuilds the whole artifact when the corpus
  // changes — right for bounded fixtures, wrong for a 100 TB streaming
  // corpus where each micro-batch adds documents. Segmented artifacts
  // commit APPENDS the way the confirmed block tier does: a new segment
  // directory becomes visible only through one fsynced atomic manifest
  // commit, so readers never see a torn append; whatever a crash leaves
  // (a `__seg_*` staging dir, or a renamed segment the manifest never
  // recorded) is invisible to readers and swept by the next compaction.
  //
  // The manifest commit is CAS-STYLE, so appends are MULTI-WRITER safe:
  // each manifest generation is an immutable `_segments.v<N>` file
  // claimed by atomic create-exclusive (hard-link of a fully-synced tmp
  // — link(2) fails with EEXIST if the generation is taken). An
  // appender reads generation N, tries to claim N+1 with its segment
  // added; a loser re-reads (now seeing the winner's segment) and
  // retries against N+2 — a committed segment can never be dropped by
  // a racing writer, which last-writer-wins manifest replacement could
  // not guarantee. Readers resolve the highest generation present.
  // REGENERATION (the staleness delete) and COMPACTION/sweeping remain
  // single-maintainer by contract: they destroy state a concurrent
  // writer may be about to reference.

  private val ManifestPrefix = "_segments.v"

  /** Zero-padded so the lexically-greatest name is the newest generation. */
  private def generationName(v: Long) = f"$ManifestPrefix$v%019d"

  /** Last line of every committed manifest generation. On filesystems
    * where the claim degrades to create-exclusive COPY (no hard links),
    * a reader racing the copy — or a crash mid-copy — can observe a
    * prefix of the content; the terminator makes that detectable: a
    * generation without it is treated as never-committed and the reader
    * steps back to the newest terminated one. Pre-marker generations
    * (older on-disk artifacts) are accepted only when NO terminated
    * generation exists in the dir, which a mixed dir can't hit (the
    * newest generation there is always marker-era). */
  private val ManifestEnd = "#end"

  /** Highest committed manifest generation `(version, segments)`;
    * `(0, legacy)` when only a pre-CAS `_segments` file exists, and
    * `(0, empty)` for a fresh dir. Retries a bounded number of times if
    * the resolved generation file is swept between listing and read. */
  private def manifestState(dir: String): (Long, Seq[String]) = {
    import scala.jdk.CollectionConverters._
    val d = Paths.get(dir)
    var attempt = 0
    while (attempt < 5) {
      attempt += 1
      if (!Files.exists(d)) return (0L, Seq.empty)
      val stream = Files.list(d)
      val gens =
        try stream.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith(ManifestPrefix)).toSeq.sorted.reverse
        finally stream.close()
      try {
        if (gens.isEmpty) {
          val legacy = Paths.get(s"$dir/_segments")
          return (0L,
            if (Files.exists(legacy))
              Files.readAllLines(legacy).asScala.toSeq.filter(_.nonEmpty)
            else Seq.empty)
        }
        // The CAS version to beat is ALWAYS the newest NAME present —
        // even when its content is torn (a racing/crashed copy on a
        // no-hard-link fs): an appender must claim past it, never
        // re-claim it. Segments come from the newest TERMINATED
        // generation; an un-terminated one was never committed. A
        // marker-era dir whose NEWEST generation lacks the terminator
        // is likely mid-copy — wait out the remaining attempts for the
        // terminator to land before building past it (building past a
        // copy that then completes would drop the winner's segment);
        // only a crashed copy exhausts the wait. If NO generation is
        // terminated, the dir predates the marker — accept the newest
        // as-is (legacy format).
        val maxVer = gens.head.stripPrefix(ManifestPrefix).toLong
        // read LAZILY, newest first — the common case touches one file,
        // and a stale generation a concurrent sweep deletes mid-scan is
        // simply skipped (it was superseded) instead of failing the read
        def readGen(n: String): Option[Seq[String]] =
          try Some(Files.readAllLines(Paths.get(s"$dir/$n")).asScala.toSeq)
          catch { case _: java.nio.file.NoSuchFileException => None }
        readGen(gens.head) match {
          case None => () // the NEWEST vanished under us: re-list
          case Some(newest) if newest.lastOption.contains(ManifestEnd) =>
            return (maxVer, newest.dropRight(1).filter(_.nonEmpty))
          case Some(newest) =>
            gens.tail.iterator.flatMap(readGen(_))
              .find(_.lastOption.contains(ManifestEnd)) match {
              case Some(term) =>
                if (attempt >= 5)
                  return (maxVer, term.dropRight(1).filter(_.nonEmpty))
                else Thread.sleep(10L * attempt)
              case None => // pre-marker legacy dir: newest as-is
                return (maxVer, newest.filter(_.nonEmpty))
            }
        }
      } catch {
        // the generation we resolved was swept under us — re-list
        case _: java.nio.file.NoSuchFileException => ()
      }
    }
    throw new IllegalStateException(s"manifest of $dir kept vanishing mid-read")
  }

  private def listSegments(dir: String): Seq[String] = manifestState(dir)._2

  /** Try to commit manifest generation `version` with content `segs`.
    * Returns false if that generation was already claimed — the caller
    * re-reads and retries. The content file is fully written and synced
    * BEFORE the atomic claim, so a reader can never observe a torn
    * generation; on power loss the claim either exists with full
    * content or not at all. */
  private def casCommit(dir: String, version: Long, segs: Seq[String]): Boolean = {
    import java.nio.file.StandardOpenOption._
    val tmp = Paths.get(s"$dir/__manifest_tmp_${java.util.UUID.randomUUID()}")
    Files.write(tmp,
      (segs :+ ManifestEnd).mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8),
      WRITE, CREATE, TRUNCATE_EXISTING, SYNC)
    val target = Paths.get(s"$dir/${generationName(version)}")
    val claimed =
      try { Files.createLink(target, tmp); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException =>
          // no hard links (e.g. FAT): degrade to same-dir RENAME of the
          // fully-synced tmp — atomic where supported, so a reader can
          // never observe torn content (a copy could be observed
          // half-written); an existing generation still refuses the claim
          try {
            try Files.move(tmp, target,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            catch {
              case _: java.nio.file.AtomicMoveNotSupportedException =>
                Files.move(tmp, target)
            }
            true
          } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      }
    Files.deleteIfExists(tmp)
    if (claimed) {
      try {
        val ch = java.nio.channels.FileChannel.open(Paths.get(dir), READ)
        try ch.force(true) finally ch.close()
      } catch { case _: Exception => () } // best-effort where unsupported
    }
    claimed
  }

  /** Append-with-retry: claim the next generation with `segs(current) :+
    * extras`; on a lost claim re-read and retry. Returns the committed
    * segment list. */
  private def casAppend(dir: String)(update: Seq[String] => Seq[String]): Seq[String] = {
    while (true) {
      val (ver, segs) = manifestState(dir)
      val next = update(segs)
      if (casCommit(dir, ver + 1, next)) return next
    }
    throw new IllegalStateException("unreachable")
  }

  /** MAINTAINER-ONLY sweep — requires EXCLUSIVE access (no concurrent
    * appender or compactor) by contract: a live appender may have
    * renamed a segment it has not yet won a manifest claim for, and
    * deleting it would let the appender commit a manifest referencing a
    * vanished directory. Deliberately NOT called from [[appendSegment]]
    * or [[compactSegments]] (both are concurrent-safe and must stay
    * so); schedule it as its own maintenance step. Drops `__seg_*`
    * staging dirs, committed-name `seg_*` dirs absent from the manifest
    * (a crash between segment rename and manifest claim orphans one; it
    * was never visible to readers; compaction's replaced inputs land
    * here too), and manifest generations older than the current one. */
  def sweepOrphans(dir: String): Unit = recoverSegments(dir)

  private def recoverSegments(dir: String): Unit = {
    val d = Paths.get(dir)
    if (Files.exists(d)) {
      val (_, segs) = manifestState(dir)
      val committed = segs.toSet
      // Keep exactly the generation whose content manifestState serves:
      // the newest TERMINATED one (else the newest, legacy format). A
      // torn NEWER generation (crashed copy-mode claim) is dropped too —
      // safe under sweep's exclusive-access contract, and required: the
      // old `n < current` rule would have kept the torn file and deleted
      // the terminated generation readers actually resolve.
      val keep: Option[String] = {
        import scala.jdk.CollectionConverters._
        val s2 = Files.list(d)
        val gens =
          try s2.iterator().asScala.map(_.getFileName.toString)
            .filter(_.startsWith(ManifestPrefix)).toSeq.sorted.reverse
          finally s2.close()
        gens.find { n =>
          try Files.readAllLines(Paths.get(s"$dir/$n")).asScala
            .lastOption.contains(ManifestEnd)
          catch { case _: java.io.IOException => false }
        }.orElse(gens.headOption)
      }
      val stream = Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala.toList
          .filter { p =>
            val n = p.getFileName.toString
            n.startsWith("__seg_") || (n.startsWith("seg_") && !committed(n)) ||
              n.startsWith("__manifest_tmp_") ||
              (n.startsWith(ManifestPrefix) && !keep.contains(n))
          }
          .foreach { p =>
            if (Files.isDirectory(p))
              org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
            else Files.deleteIfExists(p)
          }
      } finally stream.close()
    }
  }

  /** Read the segmented artifact `root/key`, building its base segment
    * first if the manifest is missing (or the whole artifact if
    * `sourceFile` exists and is newer than the BASE BUILD — regenerated
    * corpus, never silent reuse). Staleness compares against the
    * `seg_base` directory's mtime, which only the base build sets:
    * every append rewrites the manifest, so the manifest's mtime would
    * race past a later-regenerated corpus and silently mask staleness.
    * Concurrent base builds of a FRESH artifact are safe: the base
    * segment has a FIXED name, so racers collide on the atomic rename
    * (loser sweeps its staging dir; a racer whose parent dir vanished
    * retries), and the manifest write is idempotent — never two base
    * segments. REGENERATION (the staleness delete) is single-builder
    * (appends, by contrast, are multi-writer safe via the CAS manifest):
    * a regenerating builder racing other builders could
    * delete a base a racer is about to reference, which the
    * exists-guard before the manifest write narrows but cannot close. */
  def ensureSegmented(spark: SparkSession, root: String, key: String,
      sourceFile: Option[String] = None)(
      buildBase: String => Unit): DataFrame = {
    val dir = s"$root/$key"
    val basePath = Paths.get(s"$dir/seg_base")
    sourceFile.foreach { src =>
      val s = Paths.get(src)
      // the staleness reference is the OLDEST committed segment (the
      // base, or the compacted segment that replaced it): appends never
      // touch it, so they cannot mask a regeneration the way the
      // manifest's mtime would — and compaction PRESERVES the oldest
      // segment's mtime on its output for exactly the same reason (it
      // rewrites old data without consulting the source, so a fresh
      // timestamp would mask a regeneration that preceded it)
      val committed = listSegments(dir)
      val stale = Files.exists(s) && committed.nonEmpty &&
        committed.headOption.forall { seg =>
          val p = Paths.get(s"$dir/$seg")
          !Files.exists(p) || // manifest without its segment: torn state
            Files.getLastModifiedTime(s).compareTo(Files.getLastModifiedTime(p)) > 0
        }
      if (stale)
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
    // bounded retry: a racing regeneration can delete the dir between a
    // builder's rename and manifest claim — the loser rebuilds cleanly
    var attempt = 0
    while (listSegments(dir).isEmpty && attempt < 3) {
      attempt += 1
      Files.createDirectories(Paths.get(dir))
      sourceFile.foreach(writeSourceMarker(dir, _)) // provenance for sweepStale
      val tmp = Paths.get(s"$dir/__seg_base_${java.util.UUID.randomUUID()}")
      buildBase(tmp.toString)
      try Files.move(tmp, basePath)
      catch { // lost the race — the winner's base is equivalent
        case _: java.nio.file.FileAlreadyExistsException =>
          org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
        case _: java.nio.file.NoSuchFileException => // parent deleted under us
          org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
      }
      // CAS-claim the first generation (idempotent under the race: a
      // losing claim means a racer committed the same base), and also
      // heal a crash that renamed seg_base but never claimed a manifest;
      // never commit a manifest whose base a racing delete removed
      val (ver, segs) = manifestState(dir)
      if (segs.isEmpty && Files.exists(basePath))
        casCommit(dir, ver + 1, Seq("seg_base"))
    }
    readSegmented(spark, root, key)
  }

  /** Append one delta segment — MULTI-WRITER safe: the delta directory
    * has a unique name (no rename collisions) and joins the manifest
    * through the CAS claim loop, so concurrent appenders can interleave
    * freely and every committed segment survives (a raced claim is
    * retried against the re-read list, never overwritten). The delta
    * becomes visible atomically; a crash mid-append changes nothing for
    * readers and is swept by the next compaction. */
  def appendSegment(spark: SparkSession, root: String, key: String)(
      buildDelta: String => Unit): Unit = {
    val dir = s"$root/$key"
    require(listSegments(dir).nonEmpty,
      s"segmented artifact $dir has no base — call ensureSegmented first")
    // full UUID: a truncated name's birthday collision with an existing
    // committed segment would abort the append on the rename
    val name = s"seg_${java.util.UUID.randomUUID()}"
    val tmp = Paths.get(s"$dir/__seg_$name")
    buildDelta(tmp.toString)
    Files.move(tmp, Paths.get(s"$dir/$name"))
    casAppend(dir)(_ :+ name)
  }

  /** Union of all committed segments, in commit order. */
  def readSegmented(spark: SparkSession, root: String, key: String): DataFrame = {
    val dir = s"$root/$key"
    val segs = listSegments(dir)
    require(segs.nonEmpty, s"segmented artifact $dir has no committed segments")
    graft.RelationCache.parquet(spark, segs.map(s => s"$dir/$s"): _*)
  }

  /** Fold all committed segments into one — the small-files
    * countermeasure a long-appending artifact needs (the analog of the
    * block store's confirmed-tier compaction). The compacted data lands
    * as a new `seg_*` written to a staging dir first, then ONE manifest
    * claim makes it the only committed segment; readers see either the
    * old segment list or the compacted one, never a mix. A CONCURRENT
    * APPEND cannot be lost: the append's claim and the compaction's
    * claim contend for the same generation, and the loser (either side)
    * re-reads and retries — a compaction that loses re-folds so the
    * freshly appended segment is included, bounded to a few attempts
    * (0 = gave up under sustained append pressure; call again). The
    * replaced segments stay on disk as unmanifested orphans until
    * [[sweepOrphans]] — a SEPARATE maintenance step requiring exclusive
    * access — removes them: a reader that resolved the old manifest
    * (parquet file listings are eager) can still finish its scan, and
    * embedding the sweep here would let this compactor delete a
    * concurrent appender's renamed-but-unclaimed segment, undoing the
    * very guarantee the CAS loop provides. The compacted segment inherits the
    * OLDEST input segment's mtime, so the [[ensureSegmented]] staleness
    * reference still dates from the base build and a source
    * regeneration that preceded the compaction is not masked. Returns
    * the number of segments folded (0 = already compact or lost the
    * claim race). */
  // ---- retention --------------------------------------------------------

  /** MAINTAINER-ONLY retention sweep over an artifact ROOT — requires
    * EXCLUSIVE access to the whole root (no concurrent builder,
    * appender, or reader), the same contract as [[sweepOrphans]].
    * Parameter-keyed cache dirs accumulate one per (corpus, variant,
    * params) forever; this deletes the dead ones:
    *
    *   - ORPHANED: the artifact's recorded source file (the `_source`
    *     provenance marker every build writes) no longer exists — the
    *     corpus was deleted or renamed, so nothing can ever read or
    *     revalidate this key again
    *   - EXPIRED: `olderThanMs` is set and the artifact was built
    *     longer ago than that (build time = the dir's own mtime; reads
    *     never touch it) — generational retention for roots where old
    *     parameterizations linger after a config change
    *   - abandoned `__build_*` staging dirs (a crashed builder's
    *     leavings, never visible to readers)
    *
    * A LIVE key — source present, within age — is never touched, and an
    * artifact predating the provenance marker is treated as live unless
    * the age rule fires (deleting on missing metadata would eat every
    * pre-upgrade artifact on the first sweep). Returns the deleted
    * directory names. */
  def sweepStale(root: String, olderThanMs: Option[Long] = None): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val rootPath = Paths.get(root)
    if (!Files.exists(rootPath)) return Seq.empty
    val now = System.currentTimeMillis()
    val stream = Files.list(rootPath)
    val dirs = try stream.iterator().asScala.toList finally stream.close()
    dirs.filter(Files.isDirectory(_)).flatMap { dir =>
      // per-directory isolation: one unreadable marker or failed delete
      // must not abort the sweep midway — skip the bad dir and keep
      // sweeping (the skipped dir is simply retried on the next sweep)
      try {
        val name = dir.getFileName.toString
        val marker = dir.resolve(SourceMarker)
        val orphaned = Files.exists(marker) && {
          val src = new String(Files.readAllBytes(marker),
            java.nio.charset.StandardCharsets.UTF_8).trim
          src.nonEmpty && !Files.exists(Paths.get(src))
        }
        val expired = olderThanMs.exists(age =>
          Files.getLastModifiedTime(dir).toMillis < now - age)
        val staging = name.startsWith("__build_")
        if (orphaned || expired || staging) {
          org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
          Some(name)
        } else None
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  def compactSegments(spark: SparkSession, root: String, key: String): Int = {
    val dir = s"$root/$key"
    var attempt = 0
    while (attempt < 3) {
      attempt += 1
      val (ver, before) = manifestState(dir)
      if (before.size <= 1) return 0
      val oldestMtime = Files.getLastModifiedTime(Paths.get(s"$dir/${before.head}"))
      val name = s"seg_${java.util.UUID.randomUUID()}"
      val tmp = s"$dir/__seg_$name"
      spark.read.parquet(before.map(s => s"$dir/$s"): _*)
        .write.mode("overwrite").parquet(tmp)
      Files.move(Paths.get(tmp), Paths.get(s"$dir/$name"))
      Files.setLastModifiedTime(Paths.get(s"$dir/$name"), oldestMtime)
      if (casCommit(dir, ver + 1, Seq(name))) return before.size
      // a concurrent append claimed this generation first: discard our
      // fold (it is missing the new segment) and re-fold from the new
      // manifest state
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/$name"))
    }
    0
  }
}
