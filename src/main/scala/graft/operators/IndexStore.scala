package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/** Shared Hadoop-FS plumbing for the persisted indexes: commit markers,
  * write-new-then-retire versioning, the writer lease, and the
  * generation store ([[GenerationStore]]) that the text indexes
  * ([[MinhashIndex]], [[WinnowIndex]], [[TermStatsIndex]]) and the
  * vector indexes ([[IvfIndex]], [[PqIndex]], [[HnswRouted]]) are built
  * on. [[HnswIndex]] (one whole graph per version) and
  * [[DecontamIndex]] (Bloom versions) use the marker, version and lease
  * helpers directly.
  *
  * Everything goes through Hadoop [[FileSystem]], never `java.io.File`
  * or `java.nio.file`: a 100 TB index lives on HDFS or an object store,
  * where local-file renames simply don't exist. Commit markers are
  * explicit empty files under `_commits/` (not Spark's `_SUCCESS`,
  * which a committer conf can disable): a marker either exists
  * completely or not at all, so "marker present" is the atomic publish
  * point on every HCFS — no rename required, which also makes the
  * scheme object-store-safe (S3 rename is copy+delete, not atomic).
  *
  * Generation-store layout under an index root, `<P>` being the
  * family's version-marker prefix (`bands.v`, `store.v`, `cells.v`):
  * {{{
  *   <P><V>/<artifact>/gen=<G>/  a versioned artifact's rows of
  *                  generation G in store version V; compaction folds
  *                  them into version V+1
  *   <artifact>/gen=<G>/         an append-only artifact's rows of
  *                  generation G (never superseded, never versioned)
  *   <M>.v1.parquet              a frozen model's tables (IVF and
  *                  routed centroids, PQ codebooks), written by build
  *                  only, one file each
  *   _commits/g<G>               generation G is complete in every
  *                  artifact; it carries its batch's fingerprint
  *                  (a rebuild's `g0`, one line per batch it re-read)
  *   _commits/<P><V>             store version V is complete (a store
  *                  with no versioned artifact has none until a compact)
  *   _commits/<M>.v1             the model is complete
  *   _commits/basecount          rows the model was trained on, for
  *                  the families that report drift
  * }}}
  * Step order, each a no-op for readers until its marker lands:
  *  - build: reset the root (keeping the lease), train and write the
  *    model, write generation 0 into version 1, mark `g0` with the
  *    batch fingerprint, then `<P>1`, then the model;
  *  - merge: under the lock, resolve the snapshot and require a
  *    committed index; a batch whose fingerprint is a line of ANY
  *    `g` marker — the build's included — is a no-op (an at-least-once
  *    orchestrator can re-deliver an old batch after newer ones
  *    landed); otherwise write generation `max + 1` into the current
  *    version, then mark it. A crash before the marker leaves
  *    invisible orphans that the retry, recomputing the same id,
  *    overwrites wholesale;
  *  - compact: clear version V+1 (a crashed compact may have staged an
  *    older fold there), fold each versioned artifact's committed rows
  *    into `<P><V+1>/<artifact>/gen=<max>`, mark `<P><V+1>`, retire
  *    older versions keeping V as the grace copy, and sweep orphan
  *    generations;
  *  - vacuum: sweep the orphan generations of every artifact in the
  *    current version;
  *  - read: the artifact's explicit schema (never inferred: an orphan
  *    dir may hold a torn file), `basePath`, and the `gen <= max`
  *    partition filter — exact by the density invariant
  *    ([[GenerationStore.Snapshot]]).
  *
  * Crash contract every index builds on:
  *  - data files for a version/generation are written FIRST, into a
  *    directory no reader resolves yet;
  *  - the marker is created LAST — before it, a crash leaves only
  *    invisible orphan files (re-running the same step overwrites
  *    them);
  *  - retiring superseded artifacts happens only AFTER the replacement
  *    is marked — a crash between the two leaves two committed
  *    versions and readers pick the newest;
  *  - retires keep ONE grace version: a reader resolves the newest
  *    version and then scans it lazily, so the version it chose must
  *    survive until the NEXT maintenance pass (the same grace
  *    discipline as table-format vacuum). The residual race — a scan
  *    outliving two consecutive maintenance passes — fails loudly
  *    with a missing-file error, never with wrong data.
  *
  * Writer arbitration, two layers under one chokepoint ([[withLock]]):
  *  - same-JVM: one interned monitor per normalized root serializes
  *    concurrent build/merge/compact calls;
  *  - cross-process: a WRITER LEASE under `_commits/_writer.lease`,
  *    acquired by HCFS atomic create-no-overwrite, carrying a
  *    monotonically increasing FENCE number and expiring TTL ms after
  *    the file's modification time. Contenders wait, then steal an
  *    expired lease by RENAME (rename-as-mutex: exactly one stealer's
  *    rename succeeds; create-after-delete would let two stealers
  *    delete each other's fresh lease). [[mark]] — the single commit
  *    point every index step publishes through — re-reads the lease
  *    before each publish: a writer that lost its lease (stalled past
  *    the TTL, then superseded) fails its commit with the two fence
  *    numbers instead of silently interleaving generations with the
  *    new holder. The residual window (steal between a winner's check
  *    and its rename) is milliseconds against a TTL of minutes, and
  *    errs as a double-commit RETRY failure, never silent corruption:
  *    the superseding writer re-runs the same generation id wholesale.
  *    TTL must exceed the longest maintenance op; operations outliving
  *    it fail loudly at their commit point and are safe to re-run.
  */
private[graft] object IndexStore {

  private val CommitsDir = "_commits"

  def fs(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Publish marker `name` — the atomic commit point of a step.
    * `content` (optional) rides inside the marker, e.g. a batch
    * fingerprint for retry detection.
    *
    * Written to a dot-temp name first, then renamed into place: a plain
    * `create(name)` makes the marker VISIBLE (zero-length) before its
    * content lands, so a crash mid-write would commit a generation
    * without its retry token — the next delayed retry of that batch
    * would not match the (empty) fingerprint and double-commit it. A
    * crash anywhere in the temp path leaves the marker absent =
    * uncommitted, which errs in the safe direction (the retry re-merges
    * and overwrites the orphan dirs wholesale). Dot-prefixed temps are
    * invisible to [[markedIds]]' prefix filters. */
  def mark(hfs: FileSystem, root: Path, name: String,
           content: String = ""): Unit = {
    // fencing: if this JVM holds a writer lease for the root, it must
    // STILL hold it at every commit point — a writer that stalled past
    // the TTL and was superseded fails here, before publishing a marker
    // that would interleave with the new holder's generations
    activeLeases.get(hfs.makeQualified(root).toString)
      .foreach(l => requireLeaseHeld(hfs, root, l))
    markUnfenced(hfs, root, name, content)
  }

  /** [[mark]] without the lease check — for the lease machinery itself
    * (the fence bump runs under a lease that is not yet, or not, this
    * JVM's registered claim). */
  private def markUnfenced(hfs: FileSystem, root: Path, name: String,
                           content: String): Unit = {
    val dir = new Path(root, CommitsDir)
    if (!hfs.exists(dir)) hfs.mkdirs(dir)
    val tmp = new Path(dir, s".$name.tmp")
    val out = hfs.create(tmp, true)
    try if (content.nonEmpty)
      out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dest = new Path(dir, name)
    hfs.delete(dest, false) // re-mark (e.g. compact retry) replaces
    if (!hfs.rename(tmp, dest))
      throw new java.io.IOException(
        s"cannot publish marker $dest — rename from $tmp refused")
  }

  /** The marker's stored content, None when the marker is absent. */
  def markContent(hfs: FileSystem, root: Path,
                  name: String): Option[String] = {
    val p = new Path(new Path(root, CommitsDir), name)
    if (!hfs.exists(p)) None
    else Some(HadoopText.readUtf8(hfs, p))
  }

  def unmark(hfs: FileSystem, root: Path, name: String): Unit = {
    hfs.delete(new Path(new Path(root, CommitsDir), name), false)
    ()
  }

  /** Numeric ids of markers named `<prefix><id>` under the root. */
  def markedIds(hfs: FileSystem, root: Path, prefix: String): Seq[Long] =
    idsOf(markerNames(hfs, root), prefix)

  /** Every marker name under the root, from one listing. */
  def markerNames(hfs: FileSystem, root: Path): Seq[String] = {
    val dir = new Path(root, CommitsDir)
    if (!hfs.exists(dir)) Seq.empty
    else hfs.listStatus(dir).toSeq.map(_.getPath.getName)
  }

  /** Numeric ids of the `<prefix><id>` names among `markers`. */
  def idsOf(markers: Seq[String], prefix: String): Seq[Long] =
    markers.filter(_.startsWith(prefix))
      .flatMap(n => scala.util.Try(n.stripPrefix(prefix).toLong).toOption)

  /** Order-independent 64-bit digest of a batch's (id, payload) rows
    * plus its row count (leading, `<n>:<hash>`) — a merge's retry
    * token.
    * `bit_xor`, not `sum`: order-independent AND overflow-free under
    * ANSI mode. */
  def batchFingerprint(df: org.apache.spark.sql.DataFrame,
                       idCol: String, payloadCol: String): String = {
    import org.apache.spark.sql.functions._
    val r = df.select(
      count(lit(1)).as("n"),
      expr(s"bit_xor(xxhash64($idCol, $payloadCol))").as("h")).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}"
  }

  /** Retire superseded version trees of marker family `prefix` (tree
    * dir name == marker name, e.g. `store.v3`): unmark everything older
    * than `graceV` — the immediately-previous version is KEPT as a
    * grace copy for readers that resolved it just before the publish —
    * then sweep EVERY unmarked version tree, not just the ones just
    * unmarked (a crash between a past retire's unmark and delete leaves
    * an orphan tree no later explicit delete would target). */
  def retireVersions(spark: SparkSession, root: String, prefix: String,
                     graceV: Long): Unit = {
    val (hfs, p) = fs(spark, root)
    markedIds(hfs, p, prefix).filter(_ < graceV)
      .foreach(v => unmark(hfs, p, s"$prefix$v"))
    val live = markedIds(hfs, p, prefix).toSet
    hfs.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      val orphan = n.startsWith(prefix) &&
        scala.util.Try(n.stripPrefix(prefix).toLong).toOption
          .exists(v => !live.contains(v))
      if (orphan) deleteTree(hfs, st.getPath)
    }
  }

  def deleteTree(hfs: FileSystem, p: Path): Unit = {
    hfs.delete(p, true)
    ()
  }

  /** Wipe an index root for a fresh build WITHOUT destroying the writer
    * arbitration: everything goes except the live lease file (the
    * building writer is holding it — deleting it would hand the root to
    * a contender mid-build) and the `_fence.N` claims (fence numbers stay
    * monotone across rebuilds, so a pre-rebuild zombie still reads as
    * superseded). Build steps must call this, never a bare
    * [[deleteTree]] of the root. */
  def resetRoot(hfs: FileSystem, root: Path): Unit = {
    if (!hfs.exists(root)) return
    hfs.listStatus(root).foreach { st =>
      if (st.getPath.getName != CommitsDir) deleteTree(hfs, st.getPath)
    }
    val commits = new Path(root, CommitsDir)
    if (hfs.exists(commits))
      hfs.listStatus(commits).foreach { st =>
        val n = st.getPath.getName
        if (n != LeaseName && !n.startsWith(FencePrefix))
          deleteTree(hfs, st.getPath)
      }
  }

  // ------------------------------------------------------ writer lease

  /** Lease file name under `_commits/`. Dot-free so debugging `ls`
    * shows it, but [[markedIds]]' numeric parse skips it. */
  private[graft] val LeaseName = "_writer.lease"
  // fence numbers are ALLOCATED, not counted: each acquisition claims
  // `_fence.N` by atomic create-no-overwrite, so two holders can never
  // share a fence and no stalled writer can regress the counter by
  // overwriting a marker (a content-counter bump is delete+rename —
  // a loser waking from a GC pause could write an old value over a
  // newer one). Files below the new claim are swept on allocation, so
  // the set stays O(contenders), not O(history).
  private val FencePrefix = "_fence."

  /** TTL must exceed the longest build/merge/compact against the root;
    * an op outliving it can lose the lease and will fail loudly at its
    * next commit point (safe to re-run). Overridable for tests and for
    * slow maintenance via system property. */
  private def defaultTtlMs: Long =
    sys.props.get("graft.index.lease.ttlMs").map(_.toLong)
      .getOrElse(15L * 60 * 1000)
  private def defaultWaitMs: Long =
    sys.props.get("graft.index.lease.waitMs").map(_.toLong)
      .getOrElse(10L * 60 * 1000)

  /** One writer's claim on an index root. `fence` is a UNIQUE number
    * (allocated by atomic create of `_fence.N`) ordered by ALLOCATION
    * time — a claimant stalled between allocating and winning the
    * lease can hold a lower fence than an intervening holder, so fence
    * order is diagnostic, not the safety mechanism: validity is always
    * the token comparison in [[requireLeaseHeld]]. `ttlMs` rides in
    * the file so contenders use the HOLDER's TTL, not their own.
    * Expiry is measured from the lease FILE's modification time — the
    * filesystem's clock, not a writer-embedded timestamp, so
    * single-FS deployments don't depend on writer clock agreement
    * (cross-machine skew only shifts the steal point by the skew,
    * against a TTL of minutes). */
  private[graft] final case class WriterLease(token: String, fence: Long,
                                              ttlMs: Long, owner: String) {
    def serialized: String = s"$token $fence $ttlMs $owner"
  }

  private def parseLease(s: String): Option[WriterLease] =
    s.split(" ", 4) match {
      case Array(tok, f, t, o) if f.forall(_.isDigit) && t.forall(_.isDigit) =>
        Some(WriterLease(tok, f.toLong, t.toLong, o))
      case _ => None
    }

  private def leasePath(root: Path) =
    new Path(new Path(root, CommitsDir), LeaseName)

  /** The current lease with its expiry instant, None when absent. An
    * unparsable lease (a holder between create and write, or a torn
    * read) is reported as a fresh default-TTL claim — conservative:
    * contenders wait rather than steal a lease being born. */
  private[graft] def currentLease(hfs: FileSystem,
                                  root: Path): Option[(WriterLease, Long)] = {
    val p = leasePath(root)
    try {
      val st = hfs.getFileStatus(p)
      // full drain (HadoopText): torn lease content would make a
      // healthy writer's own fencing check fail spuriously
      val content = HadoopText.readUtf8(hfs, p)
      val lease = parseLease(content).getOrElse(
        WriterLease("<unreadable>", -1L, defaultTtlMs, "<unknown>"))
      Some((lease, st.getModificationTime + lease.ttlMs))
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Acquire the cross-process writer lease: atomic create-no-overwrite
    * wins; a present lease is waited on until `waitMs`, except an
    * EXPIRED one, which is broken by rename (exactly one stealer's
    * rename succeeds — create-after-delete would let two stealers
    * delete each other's fresh lease). The fence number is bumped and
    * persisted before the lease is returned, so every acquisition in
    * history is totally ordered even across steals. */
  private[graft] def acquireLease(hfs: FileSystem, root: Path,
                                  ttlMs: Long = defaultTtlMs,
                                  waitMs: Long = defaultWaitMs): WriterLease = {
    val dir = new Path(root, CommitsDir)
    if (!hfs.exists(dir)) hfs.mkdirs(dir)
    val p = leasePath(root)
    val deadline = System.currentTimeMillis() + waitMs
    var backoffMs = 50L
    while (true) {
      currentLease(hfs, root) match {
        case None =>
          // allocate the fence BEFORE creating the lease that carries
          // it: unique by atomic create, and allocation-ordered (a
          // claimant stalled between here and winning the lease can
          // hold a lower fence than an intervening holder — see the
          // WriterLease doc; safety is the token check, not the
          // number). A crash between the two leaves a harmless gap.
          val fence = allocateFence(hfs, root)
          val lease = WriterLease(java.util.UUID.randomUUID().toString,
            fence, ttlMs,
            s"${ProcessHandle.current().pid()}@${
              java.net.InetAddress.getLocalHost.getHostName}")
          val won =
            try {
              val out = hfs.create(p, false) // atomic fail-if-present
              try out.write(lease.serialized.getBytes(
                java.nio.charset.StandardCharsets.UTF_8))
              finally out.close()
              true
            } catch { case _: java.io.IOException => false }
          if (won) return lease
        case Some((stale, expiresAt))
            if System.currentTimeMillis() > expiresAt =>
          // rename-as-mutex steal: the loser's rename fails (source
          // gone) and it loops back to the create race
          val broken = new Path(dir, s".$LeaseName.broken-${
            java.util.UUID.randomUUID()}")
          if (hfs.rename(p, broken)) hfs.delete(broken, false)
        case Some((held, expiresAt)) =>
          if (System.currentTimeMillis() >= deadline)
            throw new java.io.IOException(
              s"index root $root is write-locked by ${held.owner} " +
                s"(fence ${held.fence}, expires in " +
                s"${math.max(0, expiresAt - System.currentTimeMillis())} ms) " +
                "— another process is building/merging this index; " +
                "retry later or raise graft.index.lease.waitMs")
          Thread.sleep(math.min(backoffMs,
            math.max(1, deadline - System.currentTimeMillis())))
          backoffMs = math.min(backoffMs * 2, 2000L)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Claim the next fence number: atomic create of `_fence.N` for the
    * first free N above every existing claim. The create is the
    * allocation — no two claimants can hold the same N, and a stalled
    * claimant resuming an old loop skips occupied slots, so its claim
    * is still above everything that existed when it landed. Older
    * fence files are swept after the claim (max stays ours). */
  private def allocateFence(hfs: FileSystem, root: Path): Long = {
    val dir = new Path(root, CommitsDir)
    var n = markedIds(hfs, root, FencePrefix).maxOption.getOrElse(0L) + 1
    while (true) {
      val claimed =
        try { hfs.create(new Path(dir, s"$FencePrefix$n"), false).close(); true }
        catch { case _: java.io.IOException => false }
      if (claimed) {
        markedIds(hfs, root, FencePrefix).filter(_ < n).foreach(o =>
          unmark(hfs, root, s"$FencePrefix$o"))
        return n
      }
      n += 1
    }
    throw new IllegalStateException("unreachable")
  }

  /** Fail if `lease` is no longer the root's current lease — called by
    * [[mark]] at every commit point (fencing). */
  private def requireLeaseHeld(hfs: FileSystem, root: Path,
                               lease: WriterLease): Unit =
    currentLease(hfs, root) match {
      case Some((cur, _)) if cur.token == lease.token => ()
      case Some((cur, _)) => throw new java.io.IOException(
        s"writer lease for $root lost: this writer's fence " +
          s"${lease.fence} was superseded by fence ${cur.fence} " +
          s"(${cur.owner}) — the operation stalled past the lease TTL " +
          "and was taken over; its work is safe to re-run")
      case None => throw new java.io.IOException(
        s"writer lease for $root lost (fence ${lease.fence}): the lease " +
          "expired and was released — the operation is safe to re-run")
    }

  /** Release only OUR lease: a stealer may already own the file, and
    * deleting their fresh claim would re-open the race we just lost. */
  private def releaseLease(hfs: FileSystem, root: Path,
                           lease: WriterLease): Unit =
    currentLease(hfs, root) match {
      case Some((cur, _)) if cur.token == lease.token =>
        hfs.delete(leasePath(root), false); ()
      case _ => ()
    }

  private val monitors =
    scala.collection.concurrent.TrieMap.empty[String, Object]
  /** Roots this JVM currently holds a writer lease for — consulted by
    * [[mark]] for commit-point fencing. At most one writer per root is
    * inside the monitor, so plain get/put under it is race-free. */
  private val activeLeases =
    scala.collection.concurrent.TrieMap.empty[String, WriterLease]

  /** Serialize writers against one index root — same-JVM via an
    * interned monitor, cross-process via the writer lease (acquired
    * after the monitor, released before it). The key is the FULLY
    * QUALIFIED path (scheme + authority resolved by the root's
    * FileSystem), so `file:///data/idx` and `/data/idx` spellings of
    * one physical root share a claim instead of racing. Reentrant:
    * a writer step that invokes another step on the same root runs it
    * under the already-held claim. */
  def withLock[T](spark: SparkSession, root: String)(body: => T): T = {
    val (hfs, p) = fs(spark, root)
    val key = hfs.makeQualified(p).toString
    monitors.getOrElseUpdate(key, new Object).synchronized {
      if (activeLeases.contains(key)) body // reentrant inner step
      else {
        val lease = acquireLease(hfs, p)
        activeLeases.put(key, lease)
        try body
        finally { activeLeases.remove(key); releaseLease(hfs, p, lease) }
      }
    }
  }

  /** Submit independent Spark actions concurrently, wait for all, and
    * return their results in call order — the index artifacts written
    * (or gate frames computed) inside one step have no mutual
    * dependency, so the step costs max(job) instead of sum(job).
    * Failures propagate only after every job settles, so no work is
    * left running past the call. Each call owns a dedicated pool sized
    * to its action count (daemon threads, shut down on exit): actions
    * block on Spark jobs, and parking them on a shared bounded pool —
    * the global ExecutionContext — would deadlock nested uses when the
    * pool's threads are all holding outer actions. */
  def inParallel[T](actions: (() => T)*): Seq[T] = {
    if (actions.isEmpty) return Seq.empty
    if (actions.sizeIs == 1) return Seq(actions.head())
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      actions.size,
      (r: Runnable) => {
        val t = new Thread(r, "graft-index-parallel")
        t.setDaemon(true); t
      })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = actions.map(a => Future(a()))
      val settled = Future.traverse(fs)(f =>
        f.map(Right(_): Either[Throwable, T]).recover { case t => Left(t) })
      val results = Await.result(settled, Duration.Inf)
      results.collectFirst { case Left(t) => t }.foreach(throw _)
      results.collect { case Right(v) => v }
    } finally pool.shutdown()
  }
}

/** The generation-store protocol of [[IndexStore]] (layout and step
  * order in its Scaladoc), written once. A family object extends it
  * with its version-marker prefix, the (id, payload) columns its batch
  * fingerprint hashes (`(doc_id, text)` for text, `(vec_id, v)` for
  * vectors), and `what`, which names the store in the missing-version
  * error. It supplies its [[Artifact]]s, how one batch is prepared for
  * them ([[prepare]]), optionally a frozen [[Model]], and its own query
  * over a [[Snapshot]]. */
abstract class GenerationStore(versionPrefix: String, what: String,
                               fingerprint: (String, String)) {
  import IndexStore._

  /** One parquet table of the store, partitioned by `gen`. `schema`
    * lists the data columns, then `gen`, then any further partition
    * columns `layout` adds. `derive` turns a prepared batch into one
    * generation's rows. `fold` turns the committed rows into the single
    * generation compaction writes; without one the artifact is
    * append-only: it lives at `<root>/<dir>` outside the version tree,
    * and compaction only sweeps its orphan generations. `layout` places
    * rows in files, the same for a generation and a fold. A `perLabel`
    * artifact is partitioned by `label` and each generation rewrites
    * whole labels: per label only the newest committed generation
    * carrying it serves ([[Snapshot.newest]]), and that is what
    * [[Snapshot.read]] and compaction see. */
  final class Artifact(val dir: String, val schema: StructType,
                       val derive: DataFrame => DataFrame,
                       val fold: Option[DataFrame => DataFrame],
                       val layout: DataFrame => DataFrameWriter[Row] = _.write,
                       val perLabel: Boolean = false)

  /** A frozen model: tables only [[build]] writes, trained on the build
    * batch, that [[prepare]] reads to assign or encode later batches
    * (re-training is a build, not a merge). `train` returns them by
    * name, the first named `name`; each lands as one file,
    * `<root>/<table>.v1.parquet`, before generation 0, and marker
    * `<name>.v1` publishes them after it. `countsBase` also publishes
    * the build batch's row count for [[Snapshot.drift]]. */
  final class Model(val name: String,
                    val train: DataFrame => Seq[(String, DataFrame)],
                    val countsBase: Boolean = false)

  protected def artifacts: Seq[Artifact]
  protected def model: Option[Model] = None
  /** One batch prepared for the artifacts' `derive`s, against the state
    * it lands on: at build `snap` has no generations yet, but its model
    * tables are written. */
  protected def prepare(batch: DataFrame, snap: Snapshot): DataFrame

  private lazy val versioned = artifacts.exists(_.fold.nonEmpty)
  private val BaseCount = "basecount"

  /** Past this many serving (gen, label) entries, [[Snapshot.newest]]
    * lists the serving directories instead of a Catalyst predicate:
    * the driver holds O(labels) either way, but a 10⁵-literal
    * predicate is a real optimizer cost where a path list is just
    * strings to the file index. */
  private val ServingMapLiteralCap = 100000

  /** The committed state one operation reads: the committed generation
    * ids, the newest committed store version and model version, from
    * one listing of `_commits/`.
    *
    * DENSITY INVARIANT: generation ids are always assigned as
    * `gens.max + 1` and a crashed merge's orphan is retried at the SAME
    * id (its dirs are overwritten wholesale), so the committed ids are
    * exactly `0..max` with no holes, and the only id a physical orphan
    * dir can carry is `max + 1`. Readers therefore prune uncommitted
    * (crashed) dirs with the O(1) range predicate `gen <= max` instead
    * of an `isin` list that would grow by one literal per merged batch
    * forever. */
  final class Snapshot private[GenerationStore] (spark: SparkSession,
                                                 val root: String,
                                                 val gens: Seq[Long],
                                                 val v: Long,
                                                 modelV: Long) {
    private def scan(a: Artifact): DataFrame = {
      val d = dirOf(root, v, a)
      spark.read.schema(a.schema).option("basePath", d).parquet(d)
    }

    /** The artifact's committed rows (the `gen` column dropped). */
    def read(a: Artifact): DataFrame =
      if (a.perLabel) newest(a, None).drop("gen")
      else scan(a).filter(col("gen") <= gens.max).drop("gen")

    /** The rows the newest committed generation wrote. */
    def newestGeneration(a: Artifact): DataFrame =
      scan(a).filter(col("gen") === gens.max).drop("gen")

    /** The artifact's physical `gen=` dirs — 1 right after build or
      * compact (the common serving state), one per landed batch between
      * maintenance passes. NOT `gens.size`: compact folds the data but
      * keeps the generation markers (they carry the retry
      * fingerprints), so only the layout says whether a query-time
      * re-fold over merged generations is still needed. */
    def physicalGens(a: Artifact): Int =
      children(new Path(dirOf(root, v, a))).count(_.startsWith("gen="))

    /** A model table (see [[Model]]). */
    def model(table: String): DataFrame =
      spark.read.parquet(s"$root/$table.v$modelV.parquet")

    /** Fraction of the artifact's committed rows the frozen model was
      * never trained on — merges accumulate it, and the model's fit
      * decays as the live distribution drifts from the build-time one. */
    def drift(a: Artifact): Double = {
      val total = read(a).count()
      if (total == 0L) return 0.0
      val (hfs, p) = fs(spark, root)
      val base = markContent(hfs, p, BaseCount).map(_.trim.toLong)
        .getOrElse(throw new IllegalStateException(
          s"no $BaseCount marker under $root — re-run build"))
      math.max(0.0, 1.0 - base.toDouble / total.toDouble)
    }

    /** Rows of a [[Artifact.perLabel]] artifact, `gen` kept: per label,
      * the newest committed generation carrying it — found from the
      * physical tree (one listing per generation dir, bounded by merges
      * since the last compact), since compaction moves every label to
      * the folded generation without rewriting markers — optionally
      * only the `wanted` labels. Up to `literalCap` entries the filter
      * is an OR of per-generation (gen = G AND label IN (...))
      * conjuncts over the two partition columns, so the scan
      * partition-prunes to exactly the serving dirs; past it the
      * selected `gen=G/label=L` dirs are read directly (`basePath`
      * keeps the partition columns). */
    def newest(a: Artifact, wanted: Option[Set[Long]],
               literalCap: Int = ServingMapLiteralCap): DataFrame = {
      val dir = dirOf(root, v, a)
      val serving = idsOf(children(new Path(dir)), "gen=")
        .filter(_ <= gens.max)
        .flatMap(g => idsOf(children(new Path(dir, s"gen=$g")), "label=")
          .map(_ -> g))
        .groupMapReduce(_._1)(_._2)(math.max)
        .filter { case (l, _) => wanted.forall(_(l)) }
      if (serving.isEmpty) scan(a).filter(lit(false))
      else if (serving.size <= literalCap)
        scan(a).filter(serving.groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (g, m) =>
            col("gen") === g && col("label").isin(m.keys.toSeq.sorted: _*)
          }
          .reduce(_ || _))
      else spark.read.schema(a.schema).option("basePath", dir)
        .parquet(serving.toSeq.sortBy(_._1)
          .map { case (l, g) => s"$dir/gen=$g/label=$l" }: _*)
    }

    /** True when batch fingerprint `fp` is a line of ANY committed
      * generation marker, not just the newest: an at-least-once
      * orchestrator can re-deliver an OLD batch after newer ones
      * landed, and re-committing it would silently double-count its
      * rows in every later query. */
    private[GenerationStore] def committed(fp: String): Boolean = {
      val (hfs, p) = fs(spark, root)
      gens.exists(g =>
        markContent(hfs, p, s"g$g").exists(_.split('\n').contains(fp)))
    }

    /** Every fingerprint line of the committed generation markers — what
      * a rebuild from the index's own rows carries into its `g0`. */
    private[operators] def fingerprints: Seq[String] = {
      val (hfs, p) = fs(spark, root)
      gens.flatMap(g =>
        markContent(hfs, p, s"g$g").toSeq.flatMap(_.split('\n')))
    }

    /** Delete the orphan `gen=` dirs crashed, never-retried merges left
      * in every artifact of this version — by the density invariant,
      * those above `gens.max`. */
    private[GenerationStore] def sweepOrphans(): Unit = {
      val (hfs, _) = fs(spark, root)
      artifacts.foreach { a =>
        val d = new Path(dirOf(root, v, a))
        idsOf(children(d), "gen=").filter(_ > gens.max)
          .foreach(g => deleteTree(hfs, new Path(d, s"gen=$g")))
      }
    }

    private def children(d: Path): Seq[String] = {
      val (hfs, _) = fs(spark, root)
      if (!hfs.exists(d)) Seq.empty
      else hfs.listStatus(d).toSeq.map(_.getPath.getName)
    }
  }

  protected def snapshot(spark: SparkSession, root: String): Snapshot = {
    val (hfs, p) = fs(spark, root)
    val markers = markerNames(hfs, p)
    val gens = idsOf(markers, "g")
    require(gens.nonEmpty,
      s"no committed index under $root — run build first")
    def newest(prefix: String, what: String): Long = {
      val vs = idsOf(markers, prefix)
      require(vs.nonEmpty,
        s"no committed $what under $root — interrupted build? re-run build")
      vs.max
    }
    new Snapshot(spark, root, gens,
      if (versioned) newest(versionPrefix, what)
      else idsOf(markers, versionPrefix).maxOption.getOrElse(1L),
      model.fold(0L)(m => newest(s"${m.name}.v", m.name)))
  }

  private def versionDir(root: String, v: Long) = s"$root/$versionPrefix$v"

  private def dirOf(root: String, v: Long, a: Artifact): String =
    if (a.fold.isEmpty) s"$root/${a.dir}"
    else if (a.dir.isEmpty) versionDir(root, v)
    else s"${versionDir(root, v)}/${a.dir}"

  private def write(a: Artifact, rows: DataFrame, root: String, v: Long,
                    gen: Long): Unit =
    a.layout(rows).mode("overwrite").parquet(s"${dirOf(root, v, a)}/gen=$gen")

  /** Write the index over `corpus`, replacing any prior index at
    * `root`. Its `g0` marker carries the corpus fingerprint, so merging
    * the build batch again is a no-op. */
  def build(corpus: DataFrame, root: String): Unit =
    buildWith(corpus, root)(model.toSeq.flatMap(_.train(corpus)))

  /** [[build]] with the model's tables supplied — for a family whose
    * training over a whole corpus is session-memoized. `carried`
    * fingerprints ride in `g0` beside the corpus's own: a rebuild from
    * the index's own rows passes its prior [[Snapshot.fingerprints]],
    * so batches merged before it stay no-ops after it. */
  protected final def buildWith(corpus: DataFrame, root: String,
                                carried: Seq[String] = Nil)(
      tables: => Seq[(String, DataFrame)]): Unit =
    withLock(corpus.sparkSession, root) {
      val spark = corpus.sparkSession
      val (hfs, p) = fs(spark, root)
      resetRoot(hfs, p)
      // the fingerprint job reads only the corpus: run it beside the
      // model and generation 0 instead of before them
      val Seq(fp, _) = inParallel(
        () => batchFingerprint(corpus, fingerprint._1, fingerprint._2),
        () => {
          inParallel(tables.map { case (t, df) =>
            () => df.repartition(1).write.mode("overwrite")
              .parquet(s"$root/$t.v1.parquet")
          }: _*)
          writeArtifacts(
            prepare(corpus, new Snapshot(spark, root, Nil, 1L, 1L)),
            root, gen = 0L, v = 1L)
          ""
        })
      mark(hfs, p, "g0", (fp +: carried).distinct.mkString("\n"))
      if (versioned) mark(hfs, p, s"${versionPrefix}1")
      model.foreach { m =>
        mark(hfs, p, s"${m.name}.v1")
        // the fingerprint leads with the batch's row count
        if (m.countsBase) mark(hfs, p, BaseCount, fp.takeWhile(_ != ':'))
      }
    }

  /** Add `batch` to the index as one new generation; a batch already
    * committed is a no-op. */
  def merge(batch: DataFrame, root: String): Unit =
    mergeWith(batch, root)(prepare)

  /** [[merge]] with its own batch preparation (an assign-only ingest,
    * a merge that first checks its labels). */
  protected final def mergeWith(batch: DataFrame, root: String)(
      prep: (DataFrame, Snapshot) => DataFrame): Unit =
    withLock(batch.sparkSession, root) {
      val snap = snapshot(batch.sparkSession, root)
      val fp = batchFingerprint(batch, fingerprint._1, fingerprint._2)
      if (!snap.committed(fp)) {
        val g = snap.gens.max + 1
        writeArtifacts(prep(batch, snap), root, g, snap.v)
        val (hfs, p) = fs(batch.sparkSession, root)
        mark(hfs, p, s"g$g", fp)
      }
    }

  /** Write generation `gen` of every artifact under version `v`,
    * unmarked — a merge's data step, exposed so the crash specs can
    * stop short of its marker. */
  private[graft] def writeGeneration(batch: DataFrame, root: String,
                                     gen: Long, v: Long): Unit =
    writeArtifacts(prepare(batch, snapshot(batch.sparkSession, root)),
      root, gen, v)

  /** The artifacts are independent jobs over the prepared batch: with
    * more than one, the batch is cached and they run concurrently. */
  private def writeArtifacts(batch: DataFrame, root: String, gen: Long,
                             v: Long): Unit = artifacts match {
    case Seq(a) => write(a, a.derive(batch), root, v, gen)
    case _ =>
      Materialize.withCached(batch) {
        inParallel(artifacts.map(a =>
          () => write(a, a.derive(batch), root, v, gen)): _*)
        // withCached materializes its body's result: return an empty
        // frame instead of re-reading what was written
        batch.sparkSession.range(0).toDF("done")
      }
      ()
  }

  /** Fold the committed generations into a new store version; answers
    * are unchanged. */
  def compact(spark: SparkSession, root: String): Unit =
    withLock(spark, root) {
      val (oldV, newV) = writeCompacted(spark, root)
      publishCompacted(spark, root, newV)
      retireCompacted(spark, root, oldV)
    }

  /** Compact step 1: write the folded artifacts as version V+1,
    * unmarked. Returns (V, V+1). */
  private[graft] def writeCompacted(spark: SparkSession,
                                    root: String): (Long, Long) = {
    val snap = snapshot(spark, root)
    val newV = snap.v + 1
    deleteTree(fs(spark, root)._1, new Path(versionDir(root, newV)))
    inParallel(artifacts.flatMap(a => a.fold.map(f =>
      () => write(a, f(snap.read(a)), root, newV, snap.gens.max))): _*)
    (snap.v, newV)
  }

  /** Compact step 2: mark version `newV` — the atomic switch point. */
  private[graft] def publishCompacted(spark: SparkSession, root: String,
                                      newV: Long): Unit = {
    val (hfs, p) = fs(spark, root)
    mark(hfs, p, s"$versionPrefix$newV")
  }

  /** Compact step 3: retire versions older than `oldV` and sweep orphan
    * generations. Everything deleted is already unreachable, so a crash
    * here is safe. */
  private[graft] def retireCompacted(spark: SparkSession, root: String,
                                     oldV: Long): Unit = {
    retireVersions(spark, root, versionPrefix, oldV)
    snapshot(spark, root).sweepOrphans()
  }

  /** Sweep the orphan generations crashed, never-retried merges left in
    * the current version. */
  def vacuum(spark: SparkSession, root: String): Unit =
    withLock(spark, root)(snapshot(spark, root).sweepOrphans())
}
