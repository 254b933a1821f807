package graft

/** Every registered query runs end-to-end at sf0.001 inside `sbt test` —
  * catches runtime breakage without waiting for the driver gate. Oracled
  * queries must return rows; approximate/rows-only ones just must not
  * throw (LSH recall at 50-row scale can legitimately be zero). */
class QueriesSmokeSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  // q31's synthesized collision moduli exceed the 150-customer key range at
  // sf0.001, so zero pairs is the correct answer there (the oracle agrees);
  // q245's 3-core, q271's blocking pairs, and q289's community edges ride
  // the same pair graph — no pairs, no rows
  private val mayBeEmptyAtTinyScale = Set("q31_fuzzy_dups", "q245_kcore",
    "q271_sorted_neighborhood", "q289_modularity")

  for ((name, fn) <- Queries.all.toSeq.sortBy(_._1)) {
    test(s"$name runs at sf0.001") {
      val n = fn(spark, dir).count()
      if (Oracles.all.contains(name) && !mayBeEmptyAtTinyScale(name))
        assert(n > 0, s"$name returned no rows")
    }
  }

  test("every oracle key has a registered query") {
    assert(Oracles.all.keySet.subsetOf(Queries.all.keySet))
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("persisted-table latch: a repeat call writes nothing and returns the same rows") {
    // every file under the table dir, with size and mtime
    def listing(root: java.io.File): Set[(String, Long, Long)] =
      if (root.isDirectory) root.listFiles().toSet.flatMap(listing)
      else Set((root.getPath, root.length, root.lastModified))
    for ((name, kind) <- Seq("q210_cms_table" -> "cmsidx", "q211_hll_table" -> "hllidx")) {
      val table = new java.io.File(Queries.rtPath(spark, dir, kind))
      val first = Queries.all(name)(spark, dir).collect().toSeq
      val built = listing(table)
      assert(built.nonEmpty, s"$name built no table")
      val again = Queries.all(name)(spark, dir).collect().toSeq
      assert(listing(table) == built, s"$name rewrote its table")
      assert(again == first)
    }
  }

  test("Probe runs every mode on a caller-owned session") {
    val name = "q01_pricing_summary"
    def probe(mode: String): Seq[String] = {
      val lines = scala.collection.mutable.ArrayBuffer.empty[String]
      graft.tools.Probe.run(spark, dir, mode, Seq(name), reps = 1, lines += _)
      lines.toSeq
    }
    val time = probe("time")
    assert(time.exists(_.startsWith(s"[probe] $name warm: ")))
    assert(time.exists(_.startsWith(s"[probe] $name rep1: ")))
    assert(time.exists(_.startsWith(s"[probe] $name median=")))
    val layers = probe("layers")
    assert(layers.size == 1 && layers.head.contains("build=") &&
      layers.head.contains("taskCpu=") && layers.head.contains("shuffleWrite="))
    assert("jobs=(\\d+)".r.findFirstMatchIn(layers.head).exists(_.group(1).toInt > 0))
    val plan = probe("plan")
    assert(plan.head.startsWith(s"[probe] $name plan: SMJ="))
    // shuffle stages exist only once AQE has finalized the plan
    assert("SQS=(\\d+)".r.findFirstMatchIn(plan.head).exists(_.group(1).toInt > 0))
    assert(plan(1).contains("HashAggregate"))
    assert(probe("explain").exists(_.contains("== Physical Plan ==")))
    assert(!spark.sparkContext.isStopped)
  }
}
