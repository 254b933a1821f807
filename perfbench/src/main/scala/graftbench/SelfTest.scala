package graftbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Self-tests of the parts of the benchmark that run inside the JVM:
  * the EduFlow generator's determinism and the op runner's failure
  * accounting. Exits non-zero on the first failed assertion.
  *
  * Usage: Harness selftest <workDir> <dataDir>
  */
object SelfTest {
  private def check(cond: Boolean, what: String): Unit =
    if (cond) println(s"[selftest] ok: $what")
    else { System.err.println(s"[selftest] FAILED: $what"); sys.exit(1) }

  private def files(dir: File): Map[String, Seq[Byte]] = {
    def walk(f: File): Seq[File] = if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
    walk(dir).map(f => dir.toPath.relativize(f.toPath).toString -> Files.readAllBytes(f.toPath).toSeq).toMap
  }

  def main(args: Array[String]): Unit = {
    val work = new File(args(0))
    EduflowOp.delete(work)

    // the generator: same seed -> byte-identical files, other seed -> not
    val a = EduGen.day(7, 1, new File(work, "a"))
    val b = EduGen.day(7, 1, new File(work, "b"))
    val c = EduGen.day(8, 1, new File(work, "c"))
    val fa = files(new File(work, "a"))
    check(fa.keySet.size == 7, s"a day is 5 CSVs and 2 event files (${fa.keySet.toSeq.sorted})")
    check(fa == files(new File(work, "b")) && a == b, "same seed gives byte-identical files")
    check(fa != files(new File(work, "c")), "another seed gives other files")
    check(c.studentsStaged < c.studentsRaw && c.progressDlq > 0 && c.eventsDlq > 0 &&
      c.eventsStaged < c.eventLines - c.eventsDlq, "duplicates and dead letters are planted")
    check(fa.forall { case (n, bytes) => !n.endsWith(".csv") || bytes.length < 25L * 1024 * 1024 },
      "every CSV is under Ingest.validateFile's 25 MB limit")

    // the op runner: an op that throws, or whose output digest did not
    // match, is a failed op however fast it returned
    val plan = Plan("selftest", 1, 0, trace = false, 1, 1, args(1), new File(work, "run"),
      Seq(("boom", 1L, "1:0"), ("wrong", 1L, "1:0")), Seq(Seq("boom", "wrong")))
    val registry: String => Harness.Query = {
      case "boom" => (_: SparkSession, _: String) => throw new IllegalStateException("planted failure")
      case _ => (s: SparkSession, _: String) => s.range(1).toDF()
    }
    val h = new Harness(plan, registry)
    try {
      h.setup()
      check(h.outputChecks.forall(!_._2), "the warm pass flags both planted outputs")
      val boom = h.queryOp("boom", 0, traced = false)
      check(!boom.ok && boom.error.contains("planted failure"), s"a throwing op fails (${boom.error})")
      val wrong = h.queryOp("wrong", 0, traced = false)
      check(!wrong.ok && wrong.error.contains("digest"), s"a wrong-digest op fails (${wrong.error})")
    } finally h.stop()
    EduflowOp.delete(work)
  }
}
