package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.permission.FsPermission

import graft.functions.GraftExtensions
import graft.util.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem}

/** The fork-free `file:` filesystem [[GraftExtensions]] binds: a graft
  * session resolves both local bindings to it, and what it writes carries
  * the permission bits, checksums and link statuses Hadoop's own local
  * filesystem gives the same calls. */
class LocalFsSpec extends SparkSpec {

  private val local = URI.create("file:///")

  /** The unix mode bits of `p`, sticky bit included. */
  private def mode(p: String): Int = Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  /** A copy of the session's Hadoop conf with `umask`. */
  private def confWith(umask: String): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  it("a graft session resolves file: to the fork-free FileSystem and AbstractFileSystem") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(local, conf)
    assert(fs.isInstanceOf[ForkFreeLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
    assert(FileSystem.getLocal(conf).isInstanceOf[ForkFreeLocalFileSystem])
    val afs = FileContext.getFileContext(local, conf).getDefaultFileSystem
    assert(afs.isInstanceOf[ForkFreeLocalFs], afs.getClass)
  }

  it("files and directories carry the bits stock LocalFileSystem gives a sibling under the same umask") {
    for (umask <- Seq("022", "027", "077")) withScratchDir("localfs") { root =>
      val conf = confWith(umask)
      val forkFree = FileSystem.newInstance(local, conf)
      assert(forkFree.isInstanceOf[ForkFreeLocalFileSystem])
      val stock = new LocalFileSystem()
      stock.initialize(local, conf)
      val fc = FileContext.getFileContext(local, conf)
      val stockConf = new Configuration(conf)
      stockConf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
      val stockFc = FileContext.getFileContext(local, stockConf)
      assert(!stockFc.getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
      try {
        def both(name: String)(write: (String, Boolean) => Unit): Unit = {
          val (mine, theirs) = (s"$root/ff_$name", s"$root/stock_$name")
          write(mine, true)
          write(theirs, false)
          assert(mode(mine) == mode(theirs), f"$name under umask $umask: ${mode(mine)}%o vs ${mode(theirs)}%o")
        }
        both("mkdirs")((p, ff) => (if (ff) forkFree else stock).mkdirs(new Path(p)))
        both("mkdirs750")((p, ff) => (if (ff) forkFree else stock).mkdirs(new Path(p), new FsPermission("750")))
        both("create")((p, ff) => (if (ff) forkFree else stock).create(new Path(p)).close())
        both("create640")((p, ff) => (if (ff) forkFree else stock)
          .create(new Path(p), new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null).close())
        both("fcmkdir")((p, ff) => (if (ff) fc else stockFc).mkdir(new Path(p), FsPermission.getDirDefault, true))
        both("fccreate")((p, ff) => (if (ff) fc else stockFc)
          .create(new Path(p), java.util.EnumSet.of(CreateFlag.CREATE), CreateOpts.createParent()).close())
        // the checksummed wrapper still writes the .crc sibling
        assert(Files.exists(Paths.get(s"$root/.ff_create.crc")))
        assert(mode(s"$root/.ff_create.crc") == mode(s"$root/.stock_create.crc"))
      } finally {
        forkFree.close()
        stock.close()
      }
    }
  }

  it("a sticky-bit setPermission still applies") {
    withScratchDir("localfs") { root =>
      val fs = FileSystem.get(local, spark.sessionState.newHadoopConf())
      val dir = new Path(s"$root/shared")
      fs.mkdirs(dir)
      fs.setPermission(dir, new FsPermission("1777"))
      assert(mode(s"$root/shared") == Integer.parseInt("1777", 8))
      fs.setPermission(dir, new FsPermission("700"))
      assert(mode(s"$root/shared") == Integer.parseInt("700", 8))
    }
  }

  it("getFileLinkStatus reports a symlink as the link, and anything else as getFileStatus does") {
    withScratchDir("localfs") { root =>
      val conf = spark.sessionState.newHadoopConf()
      val fs = FileSystem.get(local, conf)
      val fc = FileContext.getFileContext(local, conf)
      val target = Paths.get(root, "target")
      Files.write(target, "abc".getBytes("UTF-8"))
      val link = Files.createSymbolicLink(Paths.get(root, "link"), target)
      for (st <- Seq(fs.getFileLinkStatus(new Path(link.toString)), fc.getFileLinkStatus(new Path(link.toString)))) {
        assert(st.isSymlink)
        assert(st.getSymlink.toUri.getPath == target.toString)
      }
      val file = fs.getFileLinkStatus(new Path(target.toUri))
      assert(!file.isSymlink && file.isFile && file.getLen == 3)
      assert(fc.getFileLinkStatus(new Path(root)).isDirectory)
      intercept[java.io.FileNotFoundException](fs.getFileLinkStatus(new Path(s"$root/missing")))
    }
  }

  it("the defaults leave values the caller set") {
    val keys = Seq(GraftExtensions.ArtifactIsolationKey, GraftExtensions.LocalFsKey,
      GraftExtensions.LocalAbstractFsKey)
    val set = mutable.Map(keys.map(_ -> "mine"): _*)
    GraftExtensions.defaultSharedClassLoader(set)
    GraftExtensions.defaultLocalFs(set)
    assert(keys.forall(set(_) == "mine"))
    val unset = mutable.Map.empty[String, String]
    GraftExtensions.defaultSharedClassLoader(unset)
    GraftExtensions.defaultLocalFs(unset)
    assert(unset == Map(
      GraftExtensions.ArtifactIsolationKey -> "false",
      GraftExtensions.LocalFsKey -> classOf[ForkFreeLocalFileSystem].getName,
      GraftExtensions.LocalAbstractFsKey -> classOf[ForkFreeLocalFs].getName))
  }
}
