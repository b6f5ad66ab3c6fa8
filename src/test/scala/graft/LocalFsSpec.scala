package graft

import graft.sinks.LocalFs
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import java.io.{FileNotFoundException, IOException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

/** [[LocalFs]] against Hadoop's `LocalFileSystem`, whose raw layer answers the
  * same calls by starting `chmod`, `ls -ld` and `readlink`. */
class LocalFsSpec extends AnyFunSuite {

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** (ours, Hadoop's), both checksummed, under one umask. */
  private def pair(umask: String = "022"): (FileSystem, FileSystem) = {
    val ours = new LocalFs
    ours.initialize(URI.create("file:///"), conf(umask))
    val hadoop = new LocalFileSystem
    hadoop.initialize(URI.create("file:///"), conf(umask))
    (ours, hadoop)
  }

  private def mode(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  /** Everything a status says, with the path relative to `root` so two trees compare. */
  private def fields(s: FileStatus, root: String): Seq[Any] =
    Seq(s.getPath.toUri.getPath.stripPrefix(root), s.getLen, s.isDirectory, s.getReplication,
      s.getBlockSize, s.getModificationTime, s.getAccessTime, s.getPermission, s.getOwner,
      s.getGroup, s.isSymlink, if (s.isSymlink) s.getSymlink.toString.stripPrefix(root) else "")

  test("create and mkdirs leave Hadoop's modes under umask 022 and 077") {
    for ((umask, file, dir) <- Seq(("022", "rw-r--r--", "rwxr-xr-x"), ("077", "rw-------", "rwx------"))) {
      val (ours, hadoop) = pair(umask)
      val base = graft.util.Scratch.dir("graft-localfs-mode").toString
      for ((fs, tag) <- Seq(ours -> "ours", hadoop -> "hadoop")) {
        fs.create(new Path(s"$base/$tag/made/f"), true).close()
        fs.mkdirs(new Path(s"$base/$tag/m/n"))
        fs.create(new Path(s"$base/$tag/g"), new FsPermission("640"), true, 4096, 1.toShort,
          fs.getDefaultBlockSize(new Path(base)), null).close()
        fs.mkdirs(new Path(s"$base/$tag/d750"), new FsPermission("750"))
      }
      val want = Seq("made" -> dir, "made/f" -> file, "made/.f.crc" -> file, "m" -> dir,
        "m/n" -> dir)
      for ((rel, m) <- want) {
        assert(mode(s"$base/ours/$rel") == m, s"umask $umask: $rel")
        assert(mode(s"$base/hadoop/$rel") == m, s"umask $umask: Hadoop's $rel")
      }
      for (rel <- Seq("g", ".g.crc", "d750")) assert(mode(s"$base/ours/$rel") == mode(s"$base/hadoop/$rel"),
        s"umask $umask: $rel")
      for (rel <- want.map(_._1) ++ Seq("g", "d750"))
        assert(ours.getFileStatus(new Path(s"$base/ours/$rel")).getPermission ==
          hadoop.getFileStatus(new Path(s"$base/hadoop/$rel")).getPermission, s"umask $umask: $rel")
    }
  }

  /** A tree of plain files and directories of several modes, a link to each
    * kind and a dangling link. */
  private def tree(): String = {
    val root = graft.util.Scratch.dir("graft-localfs-tree").toRealPath().toString
    val p = Paths.get(root)
    Files.createDirectories(p.resolve("dir/sub"))
    Files.write(p.resolve("dir/data"), Array.fill[Byte](1234)(7))
    Files.write(p.resolve("dir/empty"), Array.emptyByteArray)
    Files.write(p.resolve("dir/locked"), "x".getBytes)
    Files.setPosixFilePermissions(p.resolve("dir/locked"), PosixFilePermissions.fromString("r---w---x"))
    Files.setPosixFilePermissions(p.resolve("dir/sub"), PosixFilePermissions.fromString("rwxr-x--x"))
    Files.createSymbolicLink(p.resolve("dir/to-data"), p.resolve("dir/data"))
    Files.createSymbolicLink(p.resolve("dir/to-sub"), Paths.get("sub"))
    Files.createSymbolicLink(p.resolve("dir/dangling"), p.resolve("nowhere"))
    root
  }

  test("statuses and listings carry Hadoop's owner, group, mode, size, type and times") {
    val (ours, hadoop) = pair()
    val root = tree()
    for (rel <- Seq("dir", "dir/sub", "dir/data", "dir/empty", "dir/locked", "dir/to-data", "dir/to-sub")) {
      val p = new Path(s"$root/$rel")
      assert(fields(ours.getFileStatus(p), root) == fields(hadoop.getFileStatus(p), root), rel)
    }
    val s = ours.getFileStatus(new Path(s"$root/dir/locked"))
    assert(s.getPermission.toString == "r---w---x" && s.getOwner == System.getProperty("user.name"))
    def listing(fs: FileSystem, rel: String) =
      fs.listStatus(new Path(s"$root/$rel")).map(fields(_, root)).sortBy(_.head.toString).toSeq
    for (rel <- Seq("dir", "dir/sub", "dir/data")) assert(listing(ours, rel) == listing(hadoop, rel), rel)
    // the dangling link is left out of a listing, as Hadoop leaves it out
    assert(listing(ours, "dir").map(_.head) ==
      Seq("data", "empty", "locked", "sub", "to-data", "to-sub").map(n => s"/dir/$n"))
    // a LocatedFileStatus copies permission, owner and group: the listing
    // behind every Spark file index
    val located = ours.listFiles(new Path(s"$root/dir"), false)
    while (located.hasNext) { val f = located.next(); assert(f.getOwner.nonEmpty && f.getGroup.nonEmpty) }
  }

  test("link statuses and targets match Hadoop's") {
    val (ours, hadoop) = pair()
    val root = tree()
    for (rel <- Seq("dir/to-data", "dir/to-sub", "dir/dangling", "dir/data", "dir/sub")) {
      // Hadoop reads links of plain paths only; a file: URI reads as no link there
      val p = new Path(s"$root/$rel")
      val (o, h) = (ours.getFileLinkStatus(p), hadoop.getFileLinkStatus(p))
      assert(fields(o, root) == fields(h, root), rel)
      if (h.isSymlink) assert(ours.getLinkTarget(p) == hadoop.getLinkTarget(p), rel)
      else {
        intercept[IOException](ours.getLinkTarget(p))
        intercept[IOException](hadoop.getLinkTarget(p))
      }
    }
    assert(ours.getLinkTarget(new Path(s"$root/dir/to-sub")) == new Path("sub"))
    assert(ours.getFileLinkStatus(new Path(s"file:$root/dir/to-data")).isSymlink)
  }

  test("missing paths raise FileNotFoundException, setPermission too") {
    val (ours, hadoop) = pair()
    val root = tree()
    for (rel <- Seq("nope", "dir/data/under-a-file", "dir/dangling")) {
      val p = new Path(s"$root/$rel")
      for (fs <- Seq(ours, hadoop)) {
        intercept[FileNotFoundException](fs.getFileStatus(p))
        intercept[FileNotFoundException](fs.listStatus(p))
        assert(!fs.exists(p), rel)
      }
    }
    intercept[FileNotFoundException](ours.getFileLinkStatus(new Path(s"$root/nope")))
    intercept[FileNotFoundException](ours.setPermission(new Path(s"$root/nope"), new FsPermission("644")))
    // Hadoop's chmod fails with its exit code: an IOException, not a not-found
    intercept[IOException](hadoop.setPermission(new Path(s"$root/nope"), new FsPermission("644")))
  }

  test("a corrupted byte still raises ChecksumException on read") {
    val (ours, _) = pair()
    val base = graft.util.Scratch.dir("graft-localfs-crc").toString
    val p = new Path(s"$base/data")
    val out = ours.create(p, true)
    try out.write(Array.tabulate[Byte](10000)(_.toByte)) finally out.close()
    assert(Files.exists(Paths.get(s"$base/.data.crc")))
    def readAll(in: java.io.InputStream): Unit =
      try { val buf = new Array[Byte](4096); while (in.read(buf) >= 0) () } finally in.close()
    readAll(ours.open(p))
    val raf = new RandomAccessFile(s"$base/data", "rw")
    try { raf.seek(5000); val b = raf.read(); raf.seek(5000); raf.write(b ^ 0xff) } finally raf.close()
    intercept[ChecksumException](readAll(ours.open(p)))
  }

  test("FileContext writes and renames keep their .crc sidecar, as through Hadoop's LocalFs") {
    for (impl <- Seq(classOf[LocalFs.Context].getName, "org.apache.hadoop.fs.local.LocalFs")) {
      val c = conf("022")
      c.set("fs.AbstractFileSystem.file.impl", impl)
      val fc = FileContext.getFileContext(URI.create("file:///"), c)
      val base = graft.util.Scratch.dir("graft-localfs-fc").toString
      val out = fc.create(new Path(s"$base/.tmp"), java.util.EnumSet.of(CreateFlag.CREATE))
      try out.write("checkpoint".getBytes) finally out.close()
      fc.rename(new Path(s"$base/.tmp"), new Path(s"$base/1"))
      assert(new java.io.File(base).list().sorted.toSeq == Seq(".1.crc", "1"), impl)
      assert(mode(s"$base/1") == "rw-r--r--", impl)
      val in = fc.open(new Path(s"$base/1"))
      try assert(new String(in.readAllBytes()) == "checkpoint", impl) finally in.close()
    }
  }
}
