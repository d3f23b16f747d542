package graft

import graft.SparkSpec

/** Driver-contract guards: the driver hash-compares
  * `SparkEntry.queries` against `oracleSql` by NAME, so a typo'd key
  * or an oracle without a query silently weakens the round. */
class SparkEntrySpec extends SparkSpec {

  describe("driver contract") {
    it("every oracle key has a registered query") {
      val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
      orphans shouldBe empty
    }
    it("covers the full SURVEY inventory (q01..q343, contiguous)") {
      SparkEntry.queries.size shouldBe 343
      val nums = SparkEntry.queries.keySet.map(_.takeWhile(_ != '_'))
      nums shouldBe (1 to 343).map(i => f"q$i%02d").toSet
    }
    it("every registered query carries a DuckDB oracle") {
      // the rows-only set is EMPTY since r11: q329_pca_wide gained a
      // gated oracle when CovMoments went exact-integer (bit-identical
      // moments in any merge order — SURVEY §2 row 329)
      SparkEntry.queries.keySet diff SparkEntry.oracleSql.keySet shouldBe
        Set.empty[String]
    }
    it("oracle SQL never references scratch paths or spark-only syntax markers") {
      SparkEntry.oracleSql.values.foreach { sql =>
        sql should not include "/root/repo/target"
        sql.toLowerCase should not include "tablesample"
      }
    }
    it("entry() returns non-empty rows at smoke scale") {
      SparkEntry.entry(spark).count() should be > 0L
    }
    it("EVERY query runs and returns rows at sf0.001 (cross-SF smoke)") {
      // catches SF-sensitive breakage (empty windows, missing
      // combos) that the sf0.01-only parity gate would miss. It also
      // checks graft.plans.Plans's lifetime rule: no query leaves a
      // CacheManager entry behind, and once the queries' frames are
      // unreferenced the ContextCleaner frees every block they stored.
      val dir = "/root/testdata/sf0.001"
      // empty by the sf0.001 data, not by a defect: its 10 suppliers
      // all sit below q107's supplier cursor (> 50), and no nation has
      // two of them, so q196/q306 have no same-nation supplier edges
      val emptyAtSf0001 = Set("q107_jdbc_ingest", "q196_label_prop", "q306_modularity")
      val sc = spark.sparkContext
      spark.catalog.clearCache() // other suites share this session
      val firstRdd = sc.emptyRDD[Unit].id
      val results = SparkEntry.queries.toSeq.sortBy(_._1).map {
        case (name, fn) =>
          val n = fn(spark, dir).count()
          val cached = !spark.sharedState.cacheManager.isEmpty
          spark.catalog.clearCache() // name only the query that cached
          (name, n, cached)
      }
      val noRows = results.collect { case (name, 0L, _) if !emptyAtSf0001(name) => name }
      val leftCached = results.collect { case (name, _, true) => name }
      (noRows, leftCached) shouldBe ((Nil, Nil))
      val lastRdd = sc.emptyRDD[Unit].id
      def stored = sc.getPersistentRDDs.collect {
        case (id, rdd) if id > firstRdd && id < lastRdd => rdd.toString
      }
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (stored.nonEmpty && System.nanoTime() < deadline) {
        System.gc()
        Thread.sleep(200)
      }
      stored shouldBe empty
    }
  }

  describe("registry query jobs") {
    it("q36 fires the same jobs whether or not an earlier run left its state") {
      val dir = Runner.sfDir
      val sc = spark.sparkContext
      val state = new org.apache.hadoop.fs.Path(
        s"target/scratch/q36_state_${Scratch.key(dir)}")
      state.getFileSystem(sc.hadoopConfiguration).delete(state, true)
      val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .foreach(g => jobs.merge(g, 1, (a: Integer, b: Integer) => a + b))
      }
      def inGroup(group: String)(body: => Unit): Unit = {
        sc.setJobGroup(group, group)
        try body finally sc.clearJobGroup()
      }
      sc.addSparkListener(listener)
      try {
        for (run <- Seq("q36-first", "q36-second"))
          inGroup(run) {
            SparkEntry.queries("q36_incremental_state")(spark, dir).count()
          }
        // listener events arrive in order: once the probe's job is in,
        // every job of both runs has been counted
        inGroup("q36-probe") { spark.range(1).collect() }
        val deadline = System.nanoTime() + 10L * 1000000000L
        while (!jobs.containsKey("q36-probe") && System.nanoTime() < deadline)
          Thread.sleep(20)
        jobs.containsKey("q36-probe") shouldBe true
        jobs.get("q36-second") shouldBe jobs.get("q36-first")
      } finally sc.removeSparkListener(listener)
    }
  }
}
