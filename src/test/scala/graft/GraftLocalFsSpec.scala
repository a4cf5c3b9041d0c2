package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftLocalFs.RawFs]] answers `setPermission` and `getFileLinkStatus`
  * without forking; each answer must equal stock `RawLocalFileSystem`'s.
  */
class GraftLocalFsSpec extends AnyFunSuite {

  private def init(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private val stock = init(new RawLocalFileSystem)
  private val graft = init(new GraftLocalFs.RawFs)

  private def hpath(p: JPath) = new Path(p.toUri)

  test("setPermission sets the same mode bits as stock chmod") {
    val dir = Files.createTempDirectory("graftfs_perm")
    for (mode <- Seq(0x180, 0x1a4, 0x1c0, 0x1ed, 0x3ff); // 0600 0644 0700 0755 01777
         dirs <- Seq(false, true)) {
      def made(tag: String) = {
        val p = dir.resolve(s"$tag-${mode.toOctalString}-$dirs")
        if (dirs) Files.createDirectory(p) else Files.createFile(p)
      }
      val (a, b) = (made("stock"), made("graft"))
      stock.setPermission(hpath(a), new FsPermission(mode.toShort))
      graft.setPermission(hpath(b), new FsPermission(mode.toShort))
      assert(Files.getPosixFilePermissions(b) === Files.getPosixFilePermissions(a),
        s"mode ${mode.toOctalString}, directory = $dirs")
      // unix:mode also carries the sticky bit
      assert(Files.getAttribute(b, "unix:mode") === Files.getAttribute(a, "unix:mode"))
    }
  }

  test("getFileLinkStatus agrees with stock on files, directories, links and missing paths") {
    val dir = Files.createTempDirectory("graftfs_link")
    val file = Files.write(dir.resolve("file"), "twelve bytes".getBytes(UTF_8))
    val sub = Files.createDirectory(dir.resolve("sub"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"),
      dir.resolve("nowhere"))
    val missing = dir.resolve("missing")
    def outcome(fs: RawLocalFileSystem, p: Path) =
      try {
        val s = fs.getFileLinkStatus(p)
        Right((s.isFile, s.isDirectory, s.isSymlink,
          if (s.isSymlink) Some(s.getSymlink) else None, s.getLen))
      } catch { case e: FileNotFoundException => Left(e.getClass) }
    // Stock `readlink`s the path's string form, which names the link only
    // for a bare path; a qualified `file:` path (what FileContext passes)
    // reads as no link. Both forms must agree.
    val forms = Seq[JPath => Path](hpath, p => new Path(p.toString))
    for (form <- forms; p <- Seq(file, sub, link, dangling, missing))
      assert(outcome(graft, form(p)) === outcome(stock, form(p)), form(p))
    assert(outcome(stock, new Path(link.toString)).exists(_._3),
      "a bare path to a link reads as a link")
    assert(outcome(graft, hpath(missing)) === Left(classOf[FileNotFoundException]))
  }

  test("the checkpoint manager on GraftLocalFs keeps .crc sidecars and no-overwrite renames") {
    val conf = new Configuration()
    conf.set(GraftLocalFs.confKey, classOf[GraftLocalFs].getName)
    val dir = Files.createTempDirectory("graftfs_cfm")
    assert(AbstractFileSystem.get(dir.toUri, conf).isInstanceOf[GraftLocalFs])
    val fm = CheckpointFileManager.create(hpath(dir), conf)
    val target = hpath(dir.resolve("0"))
    def write(s: String, overwrite: Boolean): Unit = {
      val out = fm.createAtomic(target, overwriteIfPossible = overwrite)
      try { out.write(s.getBytes(UTF_8)); out.close() }
      catch { case e: Throwable => out.cancel(); throw e }
    }
    write("first", overwrite = false)
    intercept[FileAlreadyExistsException](write("second", overwrite = false))
    write("third", overwrite = true)
    val in = fm.open(target)
    try assert(new String(in.readAllBytes(), UTF_8) === "third")
    finally in.close()
    assert(Files.exists(dir.resolve(".0.crc")))
  }
}
