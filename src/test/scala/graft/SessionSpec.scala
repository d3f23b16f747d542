package graft

class SessionSpec extends SparkSpec {

  describe("Session.local") {
    it("installs GraftExtensions: graft_simhash_poly64 in a new session") {
      // a new session starts from the builtin registry plus the injected
      // extensions, so only the extensions can supply it
      val fresh = spark.newSession()
      fresh.sql("SELECT graft_simhash_poly64('a b c') = graft_simhash_poly64('a b c')")
        .head().getBoolean(0) shouldBe true
    }
    it("runs in UTC with shuffle.partitions = cpus") {
      spark.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
      spark.conf.get("spark.sql.shuffle.partitions") shouldBe SparkSpec.Cpus.toString
      spark.sparkContext.master shouldBe s"local[${SparkSpec.Cpus}]"
    }
    it("starts AQE from cpus partitions when there is no data dir") {
      spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum") shouldBe
        SparkSpec.Cpus.toString
    }
  }
}
