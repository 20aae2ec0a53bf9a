package graft.queries

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Child-JVM body: writes into two gate scratch dirs and exits normally. */
object RtDirChild {
  def main(args: Array[String]): Unit =
    for (kind <- Seq("csv", "snap")) {
      val dir = java.nio.file.Paths.get(Relational.rtDir(kind, "sf0.01"))
      Files.createDirectories(dir)
      Files.write(dir.resolve("part-0"), Array[Byte](1, 2, 3))
    }
}

/** The gates' scratch directories live under one per-process root that
  * the process deletes on exit, and a process sweeps the leftovers of
  * dead ones — checked in a child JVM with its own `java.io.tmpdir`.
  */
class RtDirSpec extends AnyFunSuite {

  private def names(dir: Path): Set[String] = {
    val st = Files.list(dir)
    try st.iterator().asScala.map(_.getFileName.toString).toSet
    finally st.close()
  }

  test("a process leaves no graft_rt directory behind and sweeps dead " +
      "processes' leftovers") {
    val tmp = Files.createTempDirectory("graft-rtdir")
    val dead = {
      val p = new ProcessBuilder("true").start()
      p.waitFor()
      p.pid()
    }
    val live = ProcessHandle.current().pid()
    val leftovers = Seq(s"graft_rt_p${dead}_42", s"graft_rt_p$dead",
      s"graft_rt_csv_5c1f_p$dead", s"graft_rt_dpp_5c1f_p$dead-dim")
    leftovers.foreach(n => Files.createDirectories(tmp.resolve(n).resolve("x")))
    Files.createDirectories(tmp.resolve(s"graft_rt_p${live}_7"))
    // dead-pid names that are links to a directory outside the child's
    // tmpdir: the sweep must neither follow them nor delete the target
    val target = Files.createTempDirectory("graft-rtdir-target")
    Files.write(target.resolve("keep"), Array[Byte](1))
    val links = Seq(s"graft_rt_p${dead}_9", s"graft_rt_csv_5c1f_p$dead-l")
    links.foreach(n => Files.createSymbolicLink(tmp.resolve(n), target))
    val java = Path.of(System.getProperty("java.home"), "bin", "java").toString
    val child = new ProcessBuilder(java, s"-Djava.io.tmpdir=$tmp", "-cp",
      System.getProperty("java.class.path"), RtDirChild.getClass.getName
        .stripSuffix("$")).inheritIO().start()
    assert(child.waitFor() == 0)
    assert(names(tmp) == Set(s"graft_rt_p${live}_7") ++ links,
      "the child's root or a dead process's leftover survived, or a link " +
        "was removed")
    assert(names(target) == Set("keep"), "the sweep deleted through a link")
    Relational.deleteRecursive(tmp)
    assert(Files.exists(target.resolve("keep")),
      "deleteRecursive followed a link")
    Relational.deleteRecursive(target)
  }
}
