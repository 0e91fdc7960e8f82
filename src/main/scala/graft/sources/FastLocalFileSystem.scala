package graft.sources

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file://` filesystem with the chmod fork removed (guide §6: I/O cost).
  *
  * Without libhadoop (no native IO — the common case in containers and CI),
  * `RawLocalFileSystem.setPermission` shells out to `/bin/chmod`, and the
  * default create/mkdirs paths call it for EVERY file and directory. On this
  * engine's metadata-heavy commit protocol (registry + snapshot + marker +
  * lock files per commit, each with a `.crc` sidecar = 2 creates), those
  * forks dominate small-commit latency: measured locally, 400 checksummed
  * creates cost 5.5 s stock vs 0.38 s with setPermission a no-op — ~13 ms
  * vs ~1 ms per file, a 14x difference that is pure subprocess overhead.
  *
  * POSIX permissions on a LOCAL warehouse convey nothing this engine uses
  * (no multi-tenant enforcement reads them back; umask still governs the
  * bits files actually get), so the no-op is semantically free. Scheme-
  * bound: registered for `file://` only, so HDFS / object stores — the
  * 100 TB deployments, whose clients never fork — are untouched, and
  * checksum semantics are inherited unchanged from [[LocalFileSystem]]
  * (the `.crc` sidecars and their verification remain).
  *
  * Binding: [[FastLocalFileSystem.install]] — a programmatic opt-in. The
  * jar deliberately does NOT ship a `core-site.xml`: Hadoop loads exactly
  * one classpath `core-site.xml`, so bundling one either shadows a
  * deployment's cluster config (silently dropping fs.defaultFS/security
  * settings) or is itself shadowed (optimization silently off) depending
  * on classpath order — the round-13 ADVICE finding. `install()` instead
  * ADDS `graft-fs-site.xml` as a further Hadoop default resource: the
  * deployment's own core-site.xml still loads, and only the one
  * `fs.file.impl` key is contributed on top. */
final class NoChmodRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = ()

  /** The LISTING twin of the setPermission no-op (found by stack-sampling
    * the round-14 commit path): without native IO, the statuses
    * RawLocalFileSystem returns load their permissions LAZILY by forking
    * `ls -ld` — and `FileSystem.listLocatedStatus`/`listFiles` (the
    * engine's recursive listings: scan planning, vacuum, compaction,
    * commit reconciliation) eagerly call `getPermission` while wrapping
    * each entry into a LocatedFileStatus: ONE FORK PER LISTED FILE.
    * Materialize plain statuses with default permissions instead —
    * length/type/mtime (what the engine actually reads: lock staleness,
    * vacuum age, registry sizes) are preserved; permission/owner carry
    * the same "nothing reads them back" argument as setPermission. */
  private def noShellStatus(st: org.apache.hadoop.fs.FileStatus)
      : org.apache.hadoop.fs.FileStatus =
    if (st.getClass == classOf[org.apache.hadoop.fs.FileStatus]) st
    else new org.apache.hadoop.fs.FileStatus(st.getLen, st.isDirectory,
      st.getReplication, st.getBlockSize, st.getModificationTime,
      st.getAccessTime,
      if (st.isDirectory) FsPermission.getDirDefault else FsPermission.getFileDefault,
      System.getProperty("user.name", ""), System.getProperty("user.name", ""),
      st.getPath)

  override def getFileStatus(f: Path): org.apache.hadoop.fs.FileStatus =
    noShellStatus(super.getFileStatus(f))

  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    val sts = super.listStatus(f)
    if (sts == null) null else sts.map(noShellStatus)
  }
}

final class FastLocalFileSystem
    extends LocalFileSystem(new NoChmodRawLocalFileSystem)

object FastLocalFileSystem {
  /** Register the `file://` fast-path binding as an ADDITIONAL Hadoop
    * default resource (idempotent — Hadoop dedups resource names). Call
    * BEFORE the first local-filesystem access in the JVM: Hadoop's
    * FileSystem cache keys on (scheme, authority) only, so a
    * RawLocalFileSystem created earlier keeps serving `file://` for the
    * process regardless of later configuration. [[graft.GraftSession]]
    * calls this before building the driver mains' (Bench/Verify/PlanDump/
    * SqlRepl) SparkSession; embedded users opt in the same way. */
  def install(): Unit =
    org.apache.hadoop.conf.Configuration.addDefaultResource("graft-fs-site.xml")
}
