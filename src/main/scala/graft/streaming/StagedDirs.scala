package graft.streaming

import java.util.concurrent.ConcurrentHashMap

/** Process-wide memo of staged landing-zone directories (replay-only
  * copies). A cache hit is REVALIDATED against the EXACT file count
  * recorded at staging time — /tmp reapers or manual cleanup can remove a
  * staged copy (or a subset of its files) mid-JVM (exit-time cleanup —
  * [[graft.util.TempDirs]] — only fires at exit), and a blindly-reused
  * dead or PARTIALLY-reaped path would make
  * the file stream source drain zero or truncated rows silently: a wrong
  * answer, not an error. ("At least one file" is not enough — losing the
  * data file while a sentinel survives still lists non-empty.) Staleness
  * of the SOURCE (a caller regenerating the table under the same path
  * in-process) is out of scope — keys are source paths, and the
  * test/verify drivers treat the testdata as immutable within a run.
  *
  * Concurrency: staging runs multi-second Spark jobs, so it must NOT run
  * inside `ConcurrentHashMap.compute` (whose mapping functions hold the
  * bin lock and must be short — a colliding key would block for the whole
  * stage, and a re-entrant call would throw). Instead a cheap per-key
  * monitor serializes staging per key while leaving the map operations
  * O(1).
  */
object StagedDirs {

  private final case class Staged(dir: String, files: Int)

  private val cache = new ConcurrentHashMap[String, Staged]()
  private val locks = new ConcurrentHashMap[String, Object]()

  /** Number of REGULAR FILES under `path`, RECURSIVELY; -1 when not a
    * directory (never throws — a reaped path must read as invalid).
    * Recursion matters for nested staged layouts (a Hive-partitioned copy
    * keeps its `k=v/` subdirs): a reaper deleting part files INSIDE a
    * surviving subdir leaves the top-level entry count unchanged, and a
    * top-level-only check would silently reuse the truncated copy.
    */
  private def fileCount(path: String): Int = {
    val d = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isDirectory(d)) -1
    else
      // walk stats every entry (and the root: the OPEN itself can throw if
      // a reaper wins the race after the isDirectory check), so deletion
      // WHILE we count surfaces as (Unchecked)IOException — that is just
      // another form of "this copy is being reaped": read it as invalid
      // (-1), never throw (the contract above), and let the caller
      // re-stage. The walk call sits INSIDE the try for exactly that
      // open-time race.
      try {
        val s = java.nio.file.Files.walk(d)
        try s.filter(java.nio.file.Files.isRegularFile(_)).count().toInt
        finally s.close()
      } catch {
        case _: java.io.IOException | _: java.io.UncheckedIOException => -1
      }
  }

  // Keys COLD-staged since the last [[drainRecentlyStaged]] call. Lets a
  // timing harness distinguish a run that paid staging from one that hit
  // the memo, and re-create the same state for a comparable re-run
  // (Bench's noise guard: a warm re-run of a cold-staged query would mask
  // a staging-path regression behind the memo).
  private val recentlyStaged =
    new java.util.concurrent.ConcurrentLinkedQueue[String]

  /** Return the staged dir for `key`, staging (serialized per key) when
    * absent or when the cached dir no longer holds exactly the file set it
    * was staged with.
    */
  def getOrStage(key: String)(stage: => String): String = {
    val lock = locks.computeIfAbsent(key, _ => new Object)
    lock.synchronized {
      val cur = cache.get(key)
      if (cur != null && fileCount(cur.dir) == cur.files) cur.dir
      else {
        val dir = stage
        val n = fileCount(dir)
        // distinguish the two invalid cases: 0 is a staging bug (nothing
        // was written), -1 is the environment (the dir vanished or was
        // unreadable immediately after staging) — conflating them sends a
        // maintainer chasing the wrong failure
        if (n == 0) throw new IllegalStateException(
          s"staging for $key produced an empty dir: $dir")
        if (n < 0) throw new IllegalStateException(
          s"staged dir for $key vanished or was unreadable immediately " +
            s"after staging (reaper race or IO error): $dir")
        cache.put(key, Staged(dir, n))
        recentlyStaged.add(key)
        dir
      }
    }
  }

  /** Keys cold-staged since the previous drain (and clear the log). */
  def drainRecentlyStaged(): Seq[String] = {
    val b = Seq.newBuilder[String]
    var k = recentlyStaged.poll()
    while (k != null) { b += k; k = recentlyStaged.poll() }
    b.result()
  }

  /** Forget the memo for `keys` so the next [[getOrStage]] re-stages them
    * (staged dirs stay on disk; [[graft.util.TempDirs]]' exit-time
    * registration owns cleanup). Takes the per-key staging monitor
    * (round-13 fix): a bare `cache.remove` racing an in-flight
    * [[getOrStage]] on the same key would be overwritten by that call's
    * trailing `cache.put` — the invalidation silently lost, and Bench's
    * noise-guard re-run would then time a warm memo hit instead of the
    * staging it meant to re-pay.
    */
  def invalidate(keys: Seq[String]): Unit =
    keys.foreach { k =>
      val lock = locks.computeIfAbsent(k, _ => new Object)
      lock.synchronized { cache.remove(k) }
    }
}
