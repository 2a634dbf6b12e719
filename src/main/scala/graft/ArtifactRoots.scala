package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** One root for every persisted derived artifact — index trees
  * (s13/s18/s21/s22/s23), the e-family stage tables, st11's staging
  * scratch. Defaults to java.io.tmpdir; override with
  * SPARK_GRAFT_ARTIFACT_ROOT — the 100 TB knob: point it at the
  * warehouse filesystem the corpus lives on, and every build/append/
  * compact/swap in the library lands there with the same rename
  * semantics (the swap disciplines assume same-filesystem renames,
  * which holds exactly when artifacts live beside the data). */
object ArtifactRoots {
  def root: String = sys.env.getOrElse("SPARK_GRAFT_ARTIFACT_ROOT",
    System.getProperty("java.io.tmpdir"))

  /** The session's configuration: the thread's active session, else the
    * JVM's default one. Only a caller with no session at all gets the
    * bare `Configuration`, and a `file:` FileSystem it builds first
    * would keep Hadoop's stock forking class for the JVM (Hadoop's
    * cache ignores configuration; see [[GraftSession]]). That cannot
    * happen from `src/main`: every caller here is a verb handed a
    * session, and the mains (`Verify`, `Bench`, `EtlDemo`) and
    * perfbench build theirs through `GraftSession` before any verb. */
  private def hadoopConf: Configuration = {
    import org.apache.spark.sql.SparkSession
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration).getOrElse(new Configuration())
  }

  /** Cheap corpus-identity fingerprint of a data dir: a 64-bit hash
    * (two independently-seeded 32-bit Murmur3 folds concatenated —
    * collision odds 1 in 2^64, not the 1-in-4B a single 32-bit fold
    * would give) over every entry's (name, length, mtime) two levels
    * deep (table dirs list their part files — Spark writes fresh part
    * names on every overwrite, so a regenerated table always moves
    * the hash), plus the total entry count and byte size as explicit
    * terms. This is the artifact tag's defense against serving a
    * stale marker-complete tree after the corpus is REGENERATED AT
    * THE SAME PATH (the code-semantics version constants cover code
    * changes; this covers data changes). Two levels is the corpus
    * layout's full depth (sf dir → table dirs → part files); data
    * nested deeper than its table's part files would need the listing
    * deepened with it. Listing is a few dozen statuses per call at
    * any corpus size — file counts, not file contents. A MISSING dir
    * fingerprints as "0" (two runs both seeing no content genuinely
    * share identity); a listing ERROR propagates — mapping errors
    * onto a shared fallback tag would let two different corpora
    * collide on it and serve each other's artifacts, the exact
    * staleness this fingerprint exists to prevent. */
  private def fingerprint(dir: String): String = fingerprintWalk(dir)._1

  /** One 2-level walk yielding BOTH the identity hash and the newest
    * mtime seen. The GC grace anchor must come from the SAME listing
    * the fingerprint hashes: a level-1-only max-mtime misses exactly
    * the regenerations the fingerprint detects (in-place part-file
    * rewrites under stable names, a rename-swapped snapshot whose
    * child mtimes are old), and a bypassed anchor deletes the tree a
    * straddling session still serves. */
  private def fingerprintWalk(dir: String): (String, Long) = {
    val p = new Path(dir)
    val fs = FileSystem.get(p.toUri, hadoopConf)
    if (!fs.exists(p)) ("0", 0L)
    else {
      val parts = Seq.newBuilder[String]
      var n = 0L
      var bytes = 0L
      var newest = 0L
      fs.listStatus(p).sortBy(_.getPath.getName).foreach { st =>
        parts += s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}"
        n += 1; bytes += st.getLen
        newest = math.max(newest, st.getModificationTime)
        if (st.isDirectory)
          fs.listStatus(st.getPath).sortBy(_.getPath.getName).foreach { c =>
            parts += s"${c.getPath.getName}:${c.getLen}:${c.getModificationTime}"
            n += 1; bytes += c.getLen
            newest = math.max(newest, c.getModificationTime)
          }
      }
      parts += s"::$n:$bytes"
      val ps = parts.result()
      val hi = scala.util.hashing.MurmurHash3.orderedHash(ps, 0x9747b28c)
      val lo = scala.util.hashing.MurmurHash3.orderedHash(ps, 0x85ebca6b)
      (java.lang.Long.toHexString((hi.toLong << 32) | (lo.toLong & 0xffffffffL)),
        newest)
    }
  }

  /** Tags memoized per (prefix, dir) for the life of the JVM: the
    * fingerprint listing and the sibling GC are filesystem work, and
    * the serve hot path computes tags several times per query. A
    * session assumes its corpus does not change underneath it — the
    * same assumption Spark's own file-index caching makes; staleness
    * detection is a CROSS-session property (fresh JVM, fresh tag). */
  private val tagCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  /** Test seam: forget memoized tags, simulating a fresh session
    * (the boundary at which regeneration detection is defined). */
  private[graft] def resetTagCacheForTest(): Unit = {
    tagCache.clear()
    hbThrottle.clear()
  }

  /** Per-JVM throttle for [[touchServed]] — serve hot paths resolve
    * their artifact root several times per query; one mtime bump a
    * minute is plenty for a grace window measured in minutes+. */
  private val hbThrottle =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val HeartbeatThrottleMs = 60000L

  /** The GC grace window (ms): env knob, with the system property as
    * the spec seam (tests cannot set env vars on their own JVM). ONE
    * definition — the heartbeat cadence and the GC bound must agree
    * on what the grace is. */
  private def gcGraceMs: Long =
    try {
      sys.props.get("graft.test.gcGraceMs")
        .orElse(sys.env.get("SPARK_GRAFT_ARTIFACT_GC_GRACE_MS"))
        .getOrElse("0").toLong
    } catch { case _: Exception => 0L }

  /** Record that `tree` is being actively SERVED: touch a heartbeat
    * file in its root (throttled per JVM). The 4×-grace GC bound in
    * [[tagged]] keys on max(root mtime, heartbeat mtime), so with
    * serve paths calling this, the bound measures time-since-last-USE
    * rather than time-since-BUILD — a long-lived session actively
    * serving a tree across a corpus regeneration no longer loses it
    * at 4× grace merely because the tree was built long ago. Best
    * effort (a failed touch just leaves the weaker built-time bound);
    * never creates the tree (a heartbeat must not make an unbuilt
    * root look real to exists-checks). The file is underscore-
    * prefixed, so Spark's readers treat it as hidden. */
  def touchServed(tree: String): Unit = {
    val now = System.currentTimeMillis()
    // grace-aware throttle: with a small GC grace configured, a fixed
    // 60s cadence could leave the heartbeat up to ~59s stale — enough
    // for the 4×grace bound to collect an ACTIVELY served tree (the
    // exact failure this heartbeat exists to prevent). Cap the
    // staleness at grace/8 so the heartbeat always leads the bound.
    val grace = gcGraceMs
    val throttle =
      if (grace > 0L) math.min(HeartbeatThrottleMs, math.max(1L, grace / 8))
      else HeartbeatThrottleMs
    val last = hbThrottle.get(tree)
    if (last != null && now - last < throttle) return
    try {
      val p = new Path(tree)
      val fs = FileSystem.get(p.toUri, hadoopConf)
      if (fs.exists(p)) fs.create(new Path(p, "_graft_heartbeat"), true).close()
      // record the throttle timestamp only AFTER a successful touch
      // (or a clean not-built probe): stamping before the write would
      // leave a transiently FAILED heartbeat unretried for a full
      // throttle window, eroding the grace/8 staleness lead the
      // heartbeat promises the 4×-grace GC bound
      hbThrottle.put(tree, now)
    } catch { case _: Exception => () }
  }

  /** When the tree `st` was last USED, for the 4×-grace GC bound of
    * [[tagged]]: the root dir's own mtime only
    * moves when the tree is (re)written, so it measures time-since-
    * build — but a straddling session that merely READS the tree
    * advertises liveness via the serve-time heartbeat
    * ([[touchServed]]); honor it. */
  private def lastUse(fs: FileSystem, st: FileStatus): Long =
    try {
      val hb = new Path(st.getPath, "_graft_heartbeat")
      if (fs.exists(hb))
        math.max(st.getModificationTime, fs.getFileStatus(hb).getModificationTime)
      else st.getModificationTime
    } catch { case _: Exception => st.getModificationTime }

  /** One FIXED location per (prefix, data dir, corpus fingerprint) —
    * repeated invocations over unchanged data overwrite in place, so
    * Verify/Bench loops never accumulate unbounded scratch (the s13
    * no-tmp-accumulation discipline), while a regenerated corpus gets
    * a fresh tree instead of being served stale artifacts. The
    * no-accumulation half survives the fingerprint axis because stale
    * SIBLING tags (same prefix+path hash, different fingerprint) are
    * garbage-collected on the way in — a regenerate-then-run loop
    * keeps exactly one live tree per (prefix, dir), never a graveyard
    * of superseded ones. The GC is SKIPPED when the fingerprint is
    * the missing-dir "0": a data dir transiently absent (mid-swap of
    * a regeneration, an eventually-consistent store) must never cost
    * the intact tree of the real corpus.
    *
    * CONCURRENCY caveat: tags are memoized per JVM, so a session that
    * tagged BEFORE a corpus regeneration keeps serving its (now
    * stale-fingerprinted) tree for its lifetime — and a fresh session
    * starting after the regeneration would GC that tree out from
    * under it. Concurrent sessions therefore must not straddle a
    * corpus regeneration; where that cannot be ruled out, set
    * SPARK_GRAFT_ARTIFACT_GC_GRACE_MS — while the REGENERATION itself
    * is younger than the grace window, stale siblings are spared
    * (deferred to a later session's GC), giving sessions that
    * straddled it time to drain. Staleness age is measured from when
    * the data last CHANGED (the same 2-level walk the fingerprint
    * hashes — the regeneration is what orphaned the tree), never from
    * the tree's own mtime — that records when the tree was BUILT, so
    * a long-lived session's 3-hour-old tree would be deleted out from
    * under it seconds after a regeneration, the exact straddle the
    * knob exists to survive. Bounded: trees untouched for 4× the
    * grace are collected even mid-straddle, so continuous
    * regeneration (a CI loop) cannot accumulate trees forever —
    * sessions serving one tree longer than that must pin their own
    * artifact root. Default 0 keeps the eager single-session
    * behavior. */
  def tagged(prefix: String, dir: String): String =
    tagCache.computeIfAbsent((prefix, dir), { _ =>
      val tag = java.lang.Long.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(dir).toLong & 0xffffffffL)
      val (fp, dataChangedAt) = fingerprintWalk(dir)
      val name = s"${prefix}_${tag}_$fp"
      if (fp != "0") {
        try {
          val grace = gcGraceMs
          val now = System.currentTimeMillis()
          val regenFresh = grace > 0L && now - dataChangedAt <= grace
          val rootPath = new Path(root)
          val fs = FileSystem.get(rootPath.toUri, hadoopConf)
          if (fs.exists(rootPath))
            fs.listStatus(rootPath).foreach { st =>
              val n = st.getPath.getName
              // While the latest regeneration is younger than the
              // grace, stale siblings are spared — EXCEPT trees
              // untouched for 4× grace: under continuous regeneration
              // (a CI loop) the fresh-regen condition never clears and
              // sparing alone would accumulate one tree per
              // regeneration forever. The bound states the contract:
              // a straddling session is assumed to drain within the
              // grace of ITS regeneration; sessions that serve one
              // tree for longer than 4× grace must pin their own
              // SPARK_GRAFT_ARTIFACT_ROOT.
              if (n.startsWith(s"${prefix}_${tag}_") && n != name &&
                  (!regenFresh || now - lastUse(fs, st) > 4L * grace))
                fs.delete(st.getPath, true)
            }
        } catch { case _: Exception => () } // GC is best-effort, never fatal
      }
      s"$root/$name"
    })
}
