package graft.quality

import graft.SparkSpec

class ProfileSpec extends SparkSpec {
  import spark.implicits._

  describe("Profile.numeric") {
    it("computes exact stats per column in one pass") {
      val df = Seq[(java.lang.Double, java.lang.Long)](
        (1.0, 10L), (2.0, 10L), (3.0, 20L), (null, 30L))
        .toDF("x", "y")
      val out = Profile.numeric(df, Seq("x", "y"))
        .orderBy("column_name")
        .collect()

      val x = out(0)
      x.getString(0) shouldBe "x"
      x.getLong(1) shouldBe 3L        // n_nonnull
      x.getLong(2) shouldBe 1L        // n_null
      x.getLong(3) shouldBe 3L        // n_distinct
      x.getDouble(4) shouldBe 1.0     // min
      x.getDouble(5) shouldBe 3.0     // max
      x.getDouble(6) shouldBe 2.0     // mean
      x.getDouble(7) shouldBe 1.0     // var_samp of {1,2,3}

      val y = out(1)
      y.getString(0) shouldBe "y"
      y.getLong(1) shouldBe 4L
      y.getLong(2) shouldBe 0L
      y.getLong(3) shouldBe 3L
      y.getDouble(6) shouldBe 17.5
      // var_samp of {10,10,20,30}: mean 17.5, ss = 56.25*2+6.25+156.25
      y.getDouble(7) shouldBe (275.0 / 3) +- 1e-12
    }
    it("quantiles: exact type-1 values, approx within GK rank bound") {
      // 1..100 shuffled + nulls: exact quantile at q is ceil(q*100)
      val vals = scala.util.Random.shuffle((1 to 100).toList)
      val df = (vals.map(v => Integer.valueOf(v)) ++
        Seq[Integer](null, null)).toDF("x")
      val out = Profile.quantiles(df, Seq("x"), Seq(0.25, 0.5, 0.75, 0.99),
          accuracy = 10000)
        .orderBy("q").collect()
      out.map(_.getDouble(2)) shouldBe Array(25.0, 50.0, 75.0, 99.0)
      all(out.map(_.getBoolean(3))) shouldBe true
      // coarse sketch still satisfies ITS OWN (looser) bound
      val coarse = Profile.quantiles(df, Seq("x"), Seq(0.5), accuracy = 10)
        .collect()
      coarse.head.getBoolean(3) shouldBe true
    }
    it("quantiles: NaN counts toward n but can't be an exact value") {
      // na.drop excludes NaN from the candidate values (pre-existing
      // convention), while count(col) includes it in n — so a target
      // rank landing ON the NaN reports a NULL exact
      val df = Seq(1.0, 2.0, Double.NaN).toDF("x")
      val out = Profile.quantiles(df, Seq("x"), Seq(0.5, 0.99))
        .orderBy("q").collect()
      out.head.getDouble(2) shouldBe 2.0      // rank ceil(0.5*3)=2 → 2.0
      out(1).isNullAt(2) shouldBe true        // rank 3 → the dropped NaN
    }
    it("quantiles: a constant column (degenerate bucket width) is exact") {
      val df = Seq.fill(50)(7.5).toDF("x")
      val out = Profile.quantiles(df, Seq("x"), Seq(0.25, 0.5, 0.99)).collect()
      all(out.map(_.getDouble(2))) shouldBe 7.5
      all(out.map(_.getBoolean(3))) shouldBe true
    }
    it("quantiles: empty column yields null exact and false flag") {
      val df = Seq[(java.lang.Double, Long)]((null, 1L), (null, 2L))
        .toDF("x", "k")
      val out = Profile.quantiles(df, Seq("x"), Seq(0.5)).collect()
      out.head.isNullAt(2) shouldBe true
      out.head.getBoolean(3) shouldBe false
    }
    it("correlation: perfect, inverse, and degenerate pairs") {
      val df = Seq((1.0, 2.0, -1.0, 5.0), (2.0, 4.0, -2.0, 5.0),
        (3.0, 6.0, -3.0, 5.0))
        .toDF("x", "y2x", "neg", "const")
      val out = Profile.correlation(df,
          Seq(("x", "y2x"), ("x", "neg"), ("x", "const")))
        .orderBy("pair")
        .collect()
      out(0).getString(0) shouldBe "x__const"
      out(0).isNullAt(2) shouldBe true // zero variance → NULL
      out(1).getString(0) shouldBe "x__neg"
      out(1).getDouble(2) shouldBe -1.0 +- 1e-12
      out(2).getString(0) shouldBe "x__y2x"
      out(2).getDouble(2) shouldBe 1.0 +- 1e-12
    }
    it("variance is order-independent (decimal power sums)") {
      val a = (1 to 1000).map(i => i * 0.01).toDF("v")
      val b = (1 to 1000).reverse.map(i => i * 0.01).toDF("v")
      val va = Profile.numeric(a.repartition(7), Seq("v")).collect()(0).getDouble(7)
      val vb = Profile.numeric(b.repartition(3), Seq("v")).collect()(0).getDouble(7)
      va shouldBe vb // bitwise equal, not approx
    }
  }

  describe("Profile.quantiles lanes") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

    /** Runs `f` while recording (job id → start event) and the ids of
      * ended jobs; returns both after letting the listener bus drain. */
    def recordingJobs(f: => Unit)
        : (Map[Int, SparkListenerJobStart], Set[Int]) = {
      val started = new java.util.concurrent.ConcurrentHashMap[Int, SparkListenerJobStart]
      val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          started.put(j.jobId, j)
        override def onJobEnd(j: SparkListenerJobEnd): Unit =
          ended.add(j.jobId)
      }
      spark.sparkContext.addSparkListener(listener)
      try { f; Thread.sleep(1500) }
      finally spark.sparkContext.removeSparkListener(listener)
      (started.asScala.toMap, ended.asScala.toSet)
    }

    it("cancels the rank-hit lane's jobs when the sketch lane throws") {
      // ~1 s per scan, so the hit lane is still busy when the sketch
      // aggregate fails: accuracy 0 is out of percentile_approx's
      // range, which analysis rejects at once
      val slow = org.apache.spark.sql.functions.udf { (x: Long) =>
        Thread.sleep(5); x.toDouble }
      val df = spark.range(0, 800, 1, 4)
        .select(slow(org.apache.spark.sql.functions.col("id")).as("x"))
      @volatile var thrownAt = Long.MaxValue
      val (started, ended) = recordingJobs {
        an[org.apache.spark.sql.AnalysisException] should be thrownBy
          Profile.quantiles(df, Seq("x"), Seq(0.5), accuracy = 0)
        thrownAt = System.currentTimeMillis()
      }
      started.keySet.filterNot(ended) shouldBe empty
      started.values.filter(_.time > thrownAt).map(_.jobId) shouldBe empty
      spark.sparkContext.statusTracker.getActiveJobIds() shouldBe empty
    }
    it("runs both lanes under the caller's job group") {
      val df = (1 to 200).map(_.toDouble).toDF("x")
      val sc = spark.sparkContext
      val (started, _) = recordingJobs {
        sc.setJobGroup("profile-lanes", "quantiles under a caller group")
        try Profile.quantiles(df, Seq("x"), Seq(0.5, 0.9)).collect()
        finally sc.clearJobGroup()
      }
      started should not be empty
      started.values.map(j => Option(j.properties)
        .map(_.getProperty("spark.jobGroup.id")).orNull).toSet shouldBe
        Set("profile-lanes")
    }
  }
}
