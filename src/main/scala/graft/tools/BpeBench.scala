package graft.tools

/** Diagnostic main measuring the BPE production-vocab path (VERDICT
  * r11 item 2): serial [[graft.text.Bpe.train]] (one Spark job per
  * merge) vs [[graft.text.Bpe.trainBatched]] (one job per PASS, each
  * pass committing a provably-serial-equal batch) at a real merge
  * count, plus the chunked bounded-depth encode. Not part of any
  * gated artifact — run it when revisiting the batching story:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 \
  *     SPARK_GRAFT_BPE_MERGES=1000 \
  *     sbt -batch "runMain graft.tools.BpeBench"
  *
  * SPARK_GRAFT_BPE_MODE=batched skips the serial leg (at 30k merges
  * serial is the thing being replaced, not a baseline worth
  * waiting for); MODE=driver measures ONLY the driver-resident
  * in-memory trainer (the trainAuto fast path — the 30k-merges-in-
  * minutes row, VERDICT r12 item 2).
  *
  * SPARK_GRAFT_BPE_VOCAB=<N> swaps the corpus word table for a
  * DETERMINISTIC synthetic Zipf vocabulary of N distinct words
  * (hash-derived letters, lengths 4–12, counts ~1e6/(rank+1)): the
  * driver corpus has a ~31-word vocabulary, far too small to sustain
  * ≥1k merges, while the merge loop's operand is precisely the
  * vocabulary-sized word table — so the synthetic table IS the
  * production shape being measured.
  *
  * SPARK_GRAFT_BPE_VOCAB=bytes:<N> builds the BYTE-LEVEL variant
  * (VERDICT r13 item 3 — the one BPE cell not yet measured): raw
  * words drawn from a mixed ASCII/accented/CJK/Cyrillic/currency
  * character pool, mapped through [[graft.text.Bpe.byteMapWord]]
  * (multi-byte codepoints fan out 2–3 alphabet chars per char, so
  * the byte alphabet GROWS word lengths — the case most likely to
  * push a real corpus past trainAuto's driver threshold). In
  * driver mode it also prints the MEASURED driver-heap cost of the
  * collected vocabulary (the datum that sizes the threshold).
  */
object BpeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = graft.Runner.sfDir
    val nMerges = sys.env.getOrElse("SPARK_GRAFT_BPE_MERGES", "1000").toInt
    val mode = sys.env.getOrElse("SPARK_GRAFT_BPE_MODE", "both")
    val vocabSpec = sys.env.getOrElse("SPARK_GRAFT_BPE_VOCAB", "corpus")
    val spark = graft.Runner.session(sfDir, "ERROR")
    import graft.text.Bpe

    val words = graft.plans.Plans.barrier(if (vocabSpec == "corpus")
      Bpe.wordCounts(
        graft.sources.Tables.load(spark, sfDir, "documents")
          .select("text"), "text")
    else if (vocabSpec.startsWith("bytes:")) {
      // mixed-script pool: ASCII letters + accented/CJK/Cyrillic/
      // currency chars whose UTF-8 encodings are 2–3 bytes — the
      // byte alphabet maps each BYTE to one char, so these words
      // grow 1.5–2x under byteMapWord (the production distinct-word
      // growth the driver threshold must absorb)
      val pool = (('a' to 'z').map(_.toString) ++
        Seq("é", "ö", "ñ", "ü", "中", "文", "の", "語", "б", "д",
          "ж", "я", "€", "¥", "—", "…")).map(s => s"'$s'")
      val raw = spark.range(vocabSpec.stripPrefix("bytes:").toLong)
        .selectExpr(
          s"concat_ws('', transform(sequence(0, cast(id % 9 + 3 as int)), " +
            s"j -> element_at(array(${pool.mkString(",")}), " +
            s"cast(pmod(shiftright(xxhash64(id), j * 5), ${pool.size}) " +
            s"as int) + 1))) AS raw",
          "cast(1000000 / (id + 1) as bigint) + 1 AS cnt")
      raw.select(Bpe.byteMapWord(
          org.apache.spark.sql.functions.col("raw")).as("word"),
          org.apache.spark.sql.functions.col("cnt"))
        .groupBy("word").agg(
          org.apache.spark.sql.functions.sum("cnt").as("cnt"))
    } else
      spark.range(vocabSpec.toLong).selectExpr(
        "concat_ws('', transform(sequence(0, cast(id % 9 + 3 as int)), " +
          "j -> chr(97 + pmod(shiftright(xxhash64(id), j * 5), 26)))) " +
          "AS word",
        "cast(1000000 / (id + 1) as bigint) + 1 AS cnt")
        .groupBy("word").agg(
          org.apache.spark.sql.functions.sum("cnt").as("cnt"))
    )
    println(s"[bpebench] vocab=${words.count()} (spec=$vocabSpec) " +
      s"nMerges=$nMerges sf=$sfDir")

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // driver-resident exact path (VERDICT r12 item 2): collect the
    // vocabulary-sized table once, serial merge loop in memory
    def usedHeap(): Long = {
      val rt = Runtime.getRuntime
      System.gc(); Thread.sleep(200); System.gc(); Thread.sleep(200)
      rt.totalMemory() - rt.freeMemory()
    }
    val heap0 = usedHeap()
    var collectedRef: IndexedSeq[(String, Long)] = null
    val (driverMerges, tDriver) = time {
      val collected = words
        .select(org.apache.spark.sql.functions.col("word"),
          org.apache.spark.sql.functions.col("cnt").cast("long"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toIndexedSeq
      collectedRef = collected
      Bpe.trainDriver(collected, nMerges)
    }
    // the threshold-sizing datum (VERDICT r13 item 3): retained heap
    // of the collected vocabulary itself (measured while the array is
    // still referenced; the trainer's working state is released)
    val heap1 = usedHeap()
    val nW = collectedRef.length
    val sumLen = collectedRef.iterator.map(_._1.length.toLong).sum
    println(f"[bpebench] driver   ${tDriver}%.1fs merges=${driverMerges.size} " +
      f"heapDelta=${(heap1 - heap0) / 1e6}%.0fMB words=$nW " +
      f"sumChars=$sumLen (${(heap1 - heap0).toDouble / math.max(nW, 1)}%.0fB/word)")
    collectedRef = null

    if (mode == "driver") { spark.stop(); return }

    val (st, tBatched) =
      time(Bpe.trainBatchedStats(spark, words, nMerges))
    println(f"[bpebench] batched  ${tBatched}%.1fs merges=${st.merges.size} " +
      s"passes=${st.passes} largestBatch=${st.largestBatch} " +
      f"avgBatch=${st.merges.size.toDouble / st.passes}%.1f " +
      f"vsDriver=${tBatched / tDriver}%.0fx")
    require(driverMerges == st.merges,
      "driver-resident merge sequence diverged from batched — " +
        "trainDriver is broken")

    if (mode != "batched") {
      val (serial, tSerial) = time(Bpe.train(spark, words, nMerges))
      println(f"[bpebench] serial   ${tSerial}%.1fs merges=${serial.size} " +
        f"speedup=${tSerial / tBatched}%.1fx")
      require(serial == st.merges,
        "batched merge sequence diverged from serial — the accept rule is broken")
    }

    // encode the word table under the learned merges, chunked vs (for
    // small lists) single-projection — the inference-path depth story
    val (_, tEnc) = time(
      Bpe.applyMerges(words, st.merges).count())
    println(f"[bpebench] encode_chunked ${tEnc}%.1fs " +
      s"(chunkSize=512, ${st.merges.size} merges)")
    spark.stop()
  }
}
