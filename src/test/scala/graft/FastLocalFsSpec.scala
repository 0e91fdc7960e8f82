package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the §6 local-FS commit-I/O win (round-13 VERDICT #9 / ADVICE):
  * the `file://` no-chmod binding must engage through
  * [[graft.sources.FastLocalFileSystem.install]] — programmatic, NOT a
  * bundled core-site.xml (which would shadow or be shadowed by a
  * deployment's own Hadoop config) — and must leave every other scheme
  * untouched. A dependency bump or resource rename that silently reverts
  * the binding fails here. */
class FastLocalFsSpec extends AnyFunSuite {

  test("install() binds file:// to FastLocalFileSystem in a fresh Configuration") {
    graft.sources.FastLocalFileSystem.install()
    val conf = new org.apache.hadoop.conf.Configuration()
    assert(conf.get("fs.file.impl") == "graft.sources.FastLocalFileSystem",
      "graft-fs-site.xml must contribute fs.file.impl as a default resource")
    // the test classpath's core-site.xml sets the same value; the binding
    // must come from the main jar's resource, or a broken install() hides
    val sources = Option(conf.getPropertySources("fs.file.impl"))
      .map(_.toSeq).getOrElse(Nil)
    assert(sources.contains("graft-fs-site.xml"),
      s"fs.file.impl must come from graft-fs-site.xml, came from $sources")
    // newInstance bypasses the process FileSystem cache (the JVM may have
    // created a RawLocalFileSystem before install() in test runs)
    val fs = org.apache.hadoop.fs.FileSystem.newInstance(
      java.net.URI.create("file:///"), conf)
    try assert(fs.isInstanceOf[graft.sources.FastLocalFileSystem],
      s"file:// must resolve to FastLocalFileSystem, got ${fs.getClass}")
    finally fs.close()
  }

  test("install() is idempotent and scheme-bound (no HDFS/object-store keys)") {
    graft.sources.FastLocalFileSystem.install()
    graft.sources.FastLocalFileSystem.install()
    val conf = new org.apache.hadoop.conf.Configuration()
    for (k <- Seq("fs.hdfs.impl", "fs.s3a.impl", "fs.defaultFS")) {
      val v = Option(conf.get(k))
      assert(v.forall(!_.contains("graft")),
        s"$k must not be touched by the graft binding (got $v)")
    }
  }

  test("setPermission is a no-op on the raw layer (the chmod-fork remover)") {
    val raw = new graft.sources.NoChmodRawLocalFileSystem()
    raw.initialize(java.net.URI.create("file:///"),
      new org.apache.hadoop.conf.Configuration())
    val tmp = java.nio.file.Files.createTempFile("graft_fastfs", ".t")
    try {
      // must not fork /bin/chmod nor throw
      raw.setPermission(new org.apache.hadoop.fs.Path(tmp.toString),
        org.apache.hadoop.fs.permission.FsPermission.valueOf("-rw-------"))
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }
}
