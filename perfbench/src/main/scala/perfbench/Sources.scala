package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import graft.sources.{CatalogFs, IndexCatalogOps}

/** Counting decorator over a [[CatalogFs]]: calls per seam method, bytes
  * of published manifests and checkpoint writes. Only catalogs built on
  * it by the benchmark are counted; the engine's query functions use
  * the process-wide `IndexCatalog` over the plain local filesystem.
  */
final class CountingFs(inner: CatalogFs) extends CatalogFs {
  val calls: Map[String, AtomicLong] =
    Seq("list", "read", "exists", "publish", "delete", "mkdirs", "stat")
      .map(_ -> new AtomicLong).toMap
  val manifestBytes = new AtomicLong
  val checkpointWrites = new AtomicLong

  private def count[A](k: String)(a: => A): A = { calls(k).incrementAndGet(); a }

  def listNames(dir: String): Seq[String] = count("list")(inner.listNames(dir))
  def listFilesRecursive(dir: String, suffix: String): Seq[String] =
    count("list")(inner.listFilesRecursive(dir, suffix))
  def readString(path: String): String = count("read")(inner.readString(path))
  def exists(path: String): Boolean = count("exists")(inner.exists(path))
  def mkdirs(dir: String): Unit = count("mkdirs")(inner.mkdirs(dir))
  def publishIfAbsent(path: String, content: String): Boolean = count("publish") {
    if (path.endsWith(".ckpt")) checkpointWrites.incrementAndGet()
    else manifestBytes.addAndGet(content.getBytes("UTF-8").length.toLong)
    inner.publishIfAbsent(path, content)
  }
  def delete(path: String): Unit = count("delete")(inner.delete(path))
  def mtimeMillis(path: String): Option[Long] = count("stat")(inner.mtimeMillis(path))

  def snapshot: Map[String, Long] =
    calls.map { case (k, v) => k -> v.get } ++
      Map("manifest_bytes" -> manifestBytes.get, "checkpoint_writes" -> checkpointWrites.get)
}

/** `catalog_commit`: a store lifecycle driven straight through
  * [[IndexCatalogOps]] with no Spark job, so it isolates commit
  * choreography: `commits` single-file appends, each followed by a
  * resolve of the new head, then a vacuum that must reclaim exactly the
  * never-committed orphan files.
  */
object CatalogCommit {
  val Commits = 1000
  val Orphans = 16
  val Retain = 8

  /** `commitCalls`: the counting filesystem's counters after the commit
    * loop (before the vacuum); empty over an uncounted filesystem.
    */
  final case class Result(commitMs: Seq[Double], resolveMs: Seq[Double],
      vacuumMs: Double, commitCalls: Map[String, Long], error: Option[String])

  def run(fs: CatalogFs, root: String, seed: Long, trace: Trace): Result = {
    val ops = new IndexCatalogOps(fs)
    // relative to the working directory (the checkout root), so the
    // manifests hold the same paths, and bytes, in every checkout
    val base = Paths.get("").toAbsolutePath.relativize(Paths.get(root, "store").toAbsolutePath).toString
    graft.Fs.deleteRecursively(base)
    val data = Files.createDirectories(Paths.get(base, "data"))
    // fixed-width names, so every seed publishes manifests of equal size
    def placeholder(kind: String, i: Int): String = {
      val p = data.resolve(f"$kind-$i%05d-$seed%016x.parquet")
      Files.createFile(p)
      p.toString
    }
    val commitMs = new Array[Double](Commits)
    val resolveMs = new Array[Double](Commits)
    val committed = scala.collection.mutable.ArrayBuffer.empty[String]
    var error: Option[String] = None
    var i = 0
    while (i < Commits && error.isEmpty) {
      val f = placeholder("part", i)
      val t0 = System.nanoTime()
      val v = trace("sources.commit")(ops.commitFiles(base, Seq(f)))
      val t1 = System.nanoTime()
      val resolved = trace("sources.resolve")(ops.files(base, v))
      val t2 = System.nanoTime()
      commitMs(i) = (t1 - t0) / 1e6
      resolveMs(i) = (t2 - t1) / 1e6
      committed += f
      if (v != i + 1) error = Some(s"commit ${i + 1} landed as version $v")
      else if (resolved != committed) error = Some(s"version $v resolves to ${resolved.size} files, ${committed.size} committed")
      i += 1
    }
    val commitCalls = fs match {
      case c: CountingFs => c.snapshot
      case _ => Map.empty[String, Long]
    }
    val orphans = (0 until Orphans).map(placeholder("orphan", _)).toSet
    val t3 = System.nanoTime()
    val deleted = trace("sources.vacuum")(ops.vacuum(base, Retain, orphanGraceMs = 0L)).toSet
    val vacuumMs = (System.nanoTime() - t3) / 1e6
    if (error.isEmpty) {
      val live = ops.liveVersions(base).flatMap(ops.files(base, _)).toSet
      val lost = live.filterNot(f => Files.exists(Paths.get(f)))
      if (deleted != orphans) error = Some(s"vacuum deleted ${deleted.size} files, expected the ${orphans.size} orphans")
      else if (lost.nonEmpty) error = Some(s"vacuum deleted ${lost.size} files a live version references")
      else if (ops.files(base, ops.currentVersion(base)) != committed) error = Some("head changed across vacuum")
    }
    graft.Fs.deleteRecursively(base)
    Result(commitMs.toSeq, resolveMs.toSeq, vacuumMs, commitCalls, error)
  }
}
