package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.tools.nsc.{Global, Settings}
import scala.tools.nsc.reporters.StoreReporter
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark program (`perfbench/src`) is compiled only by
  * `perfbench/run.py`, so a change to an API it uses would pass every
  * other spec and then fail every benchmark run. This spec compiles
  * its sources against the main classes, into a temp dir. */
class PerfbenchCompileSpec extends AnyFunSuite {

  test("perfbench/src compiles against the main classes") {
    val sources = Files.list(Paths.get("perfbench/src")).iterator().asScala
      .map(_.toString).filter(_.endsWith(".scala")).toList.sorted
    assert(sources.nonEmpty, "no sources under perfbench/src")
    val out = Files.createTempDirectory("graft-perfbench-classes")
    try {
      val settings = new Settings()
      settings.classpath.value = System.getProperty("java.class.path")
      settings.outdir.value = out.toString
      settings.nowarn.value = true
      val reporter = new StoreReporter(settings)
      // the compiler recurses deeply on Spark's types: give it its own stack
      var crash: Option[Throwable] = None
      val compile = new Thread(null, () => {
        try {
          val global = new Global(settings, reporter)
          new global.Run().compile(sources)
        } catch { case t: Throwable => crash = Some(t) }
      }, "perfbench-scalac", 64L << 20)
      compile.start()
      compile.join()
      crash.foreach(t => fail("the compiler crashed", t))
      val errors = reporter.infos.filter(_.severity == reporter.ERROR)
      assert(errors.isEmpty, errors.map(i => s"${i.pos}: ${i.msg}").mkString("\n"))
      assert(Files.exists(out.resolve("perfbench/GraftBench.class")))
    } finally deleteTree(out)
  }

  private def deleteTree(p: Path): Unit =
    Files.walk(p).iterator().asScala.toList.reverse.foreach(Files.delete)
}
