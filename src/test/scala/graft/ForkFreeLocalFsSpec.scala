package graft

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, LinkOption, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem,
  Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{ForkFreeLocalFileSystem, ForkFreeLocalFs}

/** Differential spec: the session factory's local filesystem against
  * stock Hadoop (`LocalFileSystem` for the `FileSystem` API, `LocalFs`
  * for `FileContext`), running the same script in two temp dirs. Every
  * step's outcome — statuses, permission bits, exception classes — and
  * the resulting tree on disk (names including `.crc` sidecars, modes,
  * contents) must be identical once the root is factored out.
  */
class ForkFreeLocalFsSpec extends AnyFunSuite {

  private val root = URI.create("file:///")

  private def oct(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)

  /** A status with the run's root replaced and times left out (a
    * dangling link's zero times are kept).
    */
  private def show(st: FileStatus, dir: String): String = {
    def rel(p: Path) = Option(p).map(_.toString.replace(dir, "<root>")).orNull
    val sym = if (st.isSymlink) rel(st.getSymlink) else "-"
    s"${rel(st.getPath)} len=${st.getLen} dir=${st.isDirectory} link=${st.isSymlink}" +
      s" target=$sym perm=${st.getPermission} owner=${st.getOwner} group=${st.getGroup}" +
      s" repl=${st.getReplication} block=${st.getBlockSize} zeroTimes=${st.getModificationTime == 0}"
  }

  /** One step's outcome: its value, or the class of what it threw. */
  private def step[T](name: String)(f: => T)(render: T => String): String =
    name + ": " + Try(f).fold(e => s"threw ${e.getClass.getName}", render)

  /** The tree under `dir` as seen on disk: path, kind, mode, content. */
  private def tree(dir: java.nio.file.Path): Seq[String] =
    Files.walk(dir).iterator().asScala.toSeq.filter(_ != dir).map { p =>
      val rel = dir.relativize(p).toString
      val mode = Integer.toOctalString(
        Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff)
      if (Files.isSymbolicLink(p)) s"$rel -> ${Files.readSymbolicLink(p).toString.replace(dir.toString, "<root>")}"
      else if (Files.isDirectory(p)) s"$rel/ $mode"
      else s"$rel $mode ${new String(Files.readAllBytes(p), "ISO-8859-1").hashCode}"
    }.sorted

  private def write(out: org.apache.hadoop.fs.FSDataOutputStream, s: String): Unit =
    try out.write(s.getBytes("UTF-8")) finally out.close()

  /** Same script against `fs` and `fc` rooted at `dir`; the transcript. */
  private def script(fs: FileSystem, fc: FileContext, dir: java.nio.file.Path): Seq[String] = {
    val d = dir.toString
    def p(rel: String) = new Path(s"$d/$rel") // unqualified, as callers pass them
    def q(rel: String) = new Path(s"file:$d/$rel") // scheme-qualified
    def st(s: FileStatus) = show(s, d)
    val log = Seq.newBuilder[String]

    // FileSystem API: create, overwrite, mkdirs, permissions
    log += step("create")(write(fs.create(p("a/f1"), false), "one"))(_ => "ok")
    log += step("create again")(write(fs.create(p("a/f1"), false), "two"))(_ => "ok")
    log += step("create overwrite")(write(fs.create(p("a/f1"), true), "three"))(_ => "ok")
    log += step("mkdirs")(fs.mkdirs(p("m/n/o")))(_.toString)
    log += step("mkdirs 0750")(fs.mkdirs(p("m2"), oct("750")))(_.toString)
    log += step("mkdirs over a file")(fs.mkdirs(p("a/f1")))(_.toString)
    for (m <- Seq("644", "755", "700")) {
      log += step(s"chmod file $m")(fs.setPermission(p("a/f1"), oct(m)))(_ => "ok")
      log += step(s"status after $m")(fs.getFileStatus(p("a/f1")))(st)
      log += step(s"chmod dir $m")(fs.setPermission(p("m/n"), oct(m)))(_ => "ok")
      log += step(s"dir status after $m")(fs.getFileStatus(p("m/n")))(st)
    }
    log += step("chmod sticky dir")(fs.setPermission(p("m2"), oct("1777")))(_ => "ok")
    // a set-group-id directory keeps that bit under a four-digit mode
    Files.setAttribute(Paths.get(s"$d/m/n/o"), "unix:mode", Integer.valueOf(Integer.parseInt("2775", 8)))
    log += step("chmod setgid dir")(fs.setPermission(p("m/n/o"), oct("755")))(_ => "ok")
    // the one documented difference: chmod's exit-code error against
    // java.nio's NoSuchFileException; both are IOExceptions
    log += "chmod missing: " + Try(fs.setPermission(p("nope"), oct("644")))
      .fold(e => s"IOException=${e.isInstanceOf[IOException]}", _ => "ok")
    log += step("listStatus a")(fs.listStatus(p("a")).toSeq.sortBy(_.getPath.toString))(_.map(st).mkString("; "))

    // FileContext API: create flags, temp-file renames as Spark's
    // checkpoint manager does them
    val create = EnumSet.of(CreateFlag.CREATE)
    val overwrite = EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)
    log += step("fc create")(write(fc.create(p("c/x"), create, Options.CreateOpts.createParent()), "x"))(_ => "ok")
    log += step("fc create again")(write(fc.create(p("c/x"), create), "x2"))(_ => "ok")
    log += step("fc create overwrite")(write(fc.create(p("c/x"), overwrite), "x3"))(_ => "ok")
    log += step("fc tmp 1")(write(fc.create(p("c/.y.tmp"), create), "y1"))(_ => "ok")
    log += step("fc rename")(fc.rename(p("c/.y.tmp"), p("c/y"), Options.Rename.NONE))(_ => "ok")
    log += step("fc tmp 2")(write(fc.create(p("c/.y2.tmp"), create), "y2"))(_ => "ok")
    log += step("fc rename onto existing")(fc.rename(p("c/.y2.tmp"), p("c/y"), Options.Rename.NONE))(_ => "ok")
    log += step("fc rename OVERWRITE")(fc.rename(p("c/.y2.tmp"), p("c/y"), Options.Rename.OVERWRITE))(_ => "ok")
    log += step("fc rename missing")(fc.rename(p("c/none"), p("c/z"), Options.Rename.OVERWRITE))(_ => "ok")
    log += step("fc rename qualified")(fc.rename(q("c/x"), q("c/x2"), Options.Rename.NONE))(_ => "ok")
    log += step("fc mkdir")(fc.mkdir(p("c/sub"), oct("700"), false))(_ => "ok")
    for (m <- Seq("644", "755", "700"))
      log += step(s"fc chmod $m")(fc.setPermission(p("c/y"), oct(m)))(_ => "ok")

    // link statuses: file, directory, symlink, dangling symlink, missing
    Files.createSymbolicLink(Paths.get(s"$d/lnk"), Paths.get(s"$d/a/f1"))
    Files.createSymbolicLink(Paths.get(s"$d/rel"), Paths.get("a/f1"))
    Files.createSymbolicLink(Paths.get(s"$d/dangling"), Paths.get(s"$d/gone"))
    for (rel <- Seq("a/f1", "m/n", "lnk", "rel", "dangling", "missing"); (form, path) <- Seq("plain" -> p(rel), "qualified" -> q(rel))) {
      log += step(s"fs link status $form $rel")(fs.getFileLinkStatus(path))(st)
      log += step(s"fc link status $form $rel")(fc.getFileLinkStatus(path))(st)
      log += step(s"fc link target $form $rel")(fc.getLinkTarget(path))(t => String.valueOf(t).replace(d, "<root>"))
    }
    log.result() ++ tree(dir)
  }

  private def run(fs: FileSystem, afsImpl: Option[String]): Seq[String] = {
    val conf = new Configuration()
    afsImpl.foreach(conf.set("fs.AbstractFileSystem.file.impl", _))
    fs.initialize(root, conf)
    val dir = Files.createTempDirectory("localfs")
    try script(fs, FileContext.getFileContext(root, conf), dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("fork-free local filesystem behaves exactly like stock LocalFileSystem/LocalFs") {
    val stock = run(new LocalFileSystem(), None)
    val graft = run(new ForkFreeLocalFileSystem(), Some(classOf[ForkFreeLocalFs].getName))
    assert(stock.exists(_.contains("link=true")), "the script never saw a symlink")
    assert(stock.exists(_.contains("threw")), "the script never saw an exception")
    assert(stock.exists(_.startsWith("c/.y.crc")), "no .crc sidecar followed the rename")
    val diff = stock.zipAll(graft, "<none>", "<none>").filter { case (a, b) => a != b }
    assert(diff.isEmpty, diff.take(10).map { case (a, b) => s"\n stock: $a\n graft: $b" }.mkString)
  }

  test("the session factory registers it for file: on both Hadoop APIs") {
    val conf = TestSession.spark.sessionState.newHadoopConf()
    val fs = FileSystem.newInstance(root, conf)
    try assert(fs.isInstanceOf[ForkFreeLocalFileSystem])
    finally fs.close()
    assert(FileContext.getFileContext(root, conf).getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
  }
}
