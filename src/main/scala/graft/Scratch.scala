package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils

/** Run-local scratch directories: stream source splits, micro-batch
  * staging, stream state and checkpoint dirs, bucketed tables, oracle-dump
  * staging. All of them live under ONE root per JVM, created on first use
  * and deleted, with everything under it, when the JVM exits — so scratch
  * a caller never releases (a session that is never invalidated, a per-run
  * state dir) does not outlive the process. A [[Memo.owned]] release still
  * deletes its dir as soon as the entry is dropped.
  *
  * The root sits on RAM-backed `/dev/shm` when the host has one,
  * `java.io.tmpdir` otherwise: the stream oracles' offset/commit WALs and
  * versioned state swaps pay a real-disk fsync per micro-batch on a disk
  * tmpdir. At cluster scale these locations are the deployment's fast
  * local volume (checkpoints: the durable store).
  */
object Scratch {

  private lazy val root: Path = {
    val shm = Path.of("/dev/shm")
    val base =
      if (Files.isDirectory(shm) && Files.isWritable(shm)) shm
      else Path.of(System.getProperty("java.io.tmpdir"))
    val r = Files.createTempDirectory(base, "graft_run")
    sys.addShutdownHook(FileUtils.deleteQuietly(r.toFile))
    r
  }

  /** A new, empty directory under this JVM's scratch root. */
  def dir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** Delete the file or directory tree `p`; a missing `p` is a no-op. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) FileUtils.forceDelete(p.toFile)
}
