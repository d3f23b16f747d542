package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextHashExprs

/** Perceptual near-duplicate detection for image assets — the
  * multimodal complement of MinHash text dedup (q23): decode →
  * 64-bit average-hash → banded bucket join → Hamming verify.
  * (Reference anchor: datanika-core ingests media uploads by content
  * type, services/file_upload_service.py; near-dup pruning is the
  * standard next step in a training-data pipeline.)
  *
  * Scale shape: decode + hash are one mapPartitions pass (the
  * mapInPandas batch shape — pixel work never leaves the executor);
  * candidate generation is an LSH band join EXACTLY like text
  * MinHash: 4 bands of 16 bits, so any pair within Hamming distance
  * tau < 4 shares ≥ 1 full band (pigeonhole) and the join is
  * complete — the verify filter then makes it exact. No all-pairs
  * product anywhere; the only exchanges are the band-keyed join and
  * the final pair dedup.
  *
  * Exactness: the hash is deterministic integer math (mean threshold
  * with floor division), so a SQL oracle recomputes identical hashes
  * from the same pixel formula and brute-forces the pair set at test
  * scale.
  */
object Phash {

  /** Decode greyscale PNGs and attach the 64-bit average hash (bit i
    * set iff pixel_i > floor(mean)). Malformed payloads are dropped
    * (quarantine path — counted by the caller if needed). The hash
    * is computed inside the same pass as the decode: pixels never
    * ship.
    */
  def hashAssets(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("ahash", LongType, nullable = false)))
    val idIdx = df.schema.fieldIndex(idCol)
    val binIdx = df.schema.fieldIndex(binCol)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodec.parsePngGray(r.getAs[Array[Byte]](binIdx)).flatMap { px =>
          if (px.length != 64) None // aHash contract: 8×8
          else {
            var sum = 0L
            var i = 0
            while (i < 64) { sum += px(i); i += 1 }
            val mean = sum / 64 // floor: sum >= 0
            var h = 0L
            i = 0
            while (i < 64) {
              if (px(i) > mean) h |= (1L << i)
              i += 1
            }
            Some(Row(r.getLong(idIdx), h))
          }
        }.iterator
      }
    }(Encoders.row(schema))
      .withColumnRenamed("id", idCol)
  }

  /** All pairs (a < b) within Hamming distance `tau` of each other,
    * via `bands` equal bit-slices of the 64-bit hash. Requires
    * tau < bands so the band join is complete (a pair with ≤ tau
    * differing bits cannot touch all bands).
    */
  def nearDupPairs(hashed: DataFrame, idCol: String, hashCol: String,
      tau: Int = 3, bands: Int = 4): DataFrame = {
    require(bands >= 1 && 64 % bands == 0, s"bands must divide 64, got $bands")
    require(tau >= 0 && tau < bands,
      s"need tau < bands for band-join completeness, got tau=$tau bands=$bands")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val banded = hashed.select(
        col(idCol).as("id"), col(hashCol).as("h"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("bv",
        expr(s"shiftright(h, band * $width)").bitwiseAND(lit(mask)))
    val l = banded.select(col("band"), col("bv"),
      col("id").as("a"), col("h").as("ha"))
    val r = banded.select(col("band"), col("bv"),
      col("id").as("b"), col("h").as("hb"))
    l.join(r, Seq("band", "bv"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).as("dist"))
      .filter(col("dist") <= tau)
      .dropDuplicates("a", "b") // a pair may collide in several bands
  }

  /** Audio twin of `hashAssets` (q153): decode PCM-16 WAVs and
    * fingerprint the waveform SHAPE — bit i set iff sample i+1 rises
    * above sample i (the sign-of-derivative code Chromaprint-family
    * fingerprints build on; amplitude-invariant, so re-encodes with
    * small local edits stay Hamming-close). Needs ≥ 65 samples;
    * shorter or malformed payloads quarantine. Same one-pass
    * mapPartitions shape as the image path; pairs come from the SAME
    * `nearDupPairs` band join.
    */
  def hashWavAssets(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("ahash", LongType, nullable = false)))
    val idIdx = df.schema.fieldIndex(idCol)
    val binIdx = df.schema.fieldIndex(binCol)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodec.parseWavPcm16(r.getAs[Array[Byte]](binIdx)).flatMap { s =>
          if (s.length < 65) None
          else {
            var h = 0L
            var i = 0
            while (i < 64) {
              if (s(i + 1) > s(i)) h |= (1L << i)
              i += 1
            }
            Some(Row(r.getLong(idIdx), h))
          }
        }.iterator
      }
    }(Encoders.row(schema))
      .withColumnRenamed("id", idCol)
  }

  // ----------------------------------------------------------------
  // Deterministic image-corpus fixture (q145): the corpus ships no
  // sidecar images, so each doc becomes a REAL 8×8 greyscale PNG
  // (zlib IDAT that actually inflates) whose pixels derive from
  // mix30 over the doc's dup-group — and the oracle recomputes the
  // same pixels arithmetically. Docs come in groups of 5: member 0
  // is the base image, member 4 is an exact re-encode (identical
  // pixels), members 1-3 swap one adjacent pixel pair each (same
  // mean — a near-dup within ≤ 2 hash bits of the base).
  // ----------------------------------------------------------------

  private[graft] def fixturePixels(docId: Long): Array[Int] = {
    val g = docId / 5
    val r = (docId % 5).toInt
    Array.tabulate(64) { i =>
      val j =
        if (r >= 1 && r <= 3 && i == 2 * r) 2 * r + 1
        else if (r >= 1 && r <= 3 && i == 2 * r + 1) 2 * r
        else i
      (TextHashExprs.mix30(g * 101 + j) % 256).toInt
    }
  }

  /** (id, payload) corpus of synthesized PNGs (see fixturePixels). */
  def synthesizeCorpus(docs: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          Row(id, MediaCodec.synthesizePngGray(fixturePixels(id)))
        }
      }(Encoders.row(schema))
  }

  // Audio fixture (q153): 65 signed 16-bit samples per doc from the
  // same group/swap scheme — groups of 5 share a waveform, member 4
  // is an exact re-encode, members 1-3 swap one adjacent sample pair
  // (perturbing at most 3 derivative bits: within tau=3 of the base).
  private[graft] def fixtureSamples(docId: Long): Array[Int] = {
    val g = docId / 5
    val r = (docId % 5).toInt
    Array.tabulate(65) { i =>
      val j =
        if (r >= 1 && r <= 3 && i == 2 * r) 2 * r + 1
        else if (r >= 1 && r <= 3 && i == 2 * r + 1) 2 * r
        else i
      (TextHashExprs.mix30(g * 131 + j) % 65536).toInt - 32768
    }
  }

  /** (id, payload) corpus of synthesized PCM-16 WAVs. */
  def synthesizeWavCorpus(docs: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          Row(id, MediaCodec.synthesizeWavPcm16(16000, fixtureSamples(id)))
        }
      }(Encoders.row(schema))
  }

  /** DuckDB SQL recomputing the audio fixture's fingerprint per doc
    * id from `idsCte`: the same mix30 samples and the same
    * rising-edge bit packing (bit 63 via the two's-complement
    * constant).
    */
  def wavFixtureHashSql(idsCte: String): String = {
    val mixed = graft.ops.Sampling.mix30Sql("(g * 131 + j)")
    s"""sm AS (
       |  SELECT doc_id, i, (($mixed) % 65536) - 32768 AS v
       |  FROM (
       |    SELECT doc_id, doc_id // 5 AS g, doc_id % 5 AS r
       |    FROM ($idsCte)),
       |    UNNEST(generate_series(0, 64)) AS t(i),
       |    LATERAL (SELECT CASE
       |      WHEN r BETWEEN 1 AND 3 AND i = 2 * r THEN 2 * r + 1
       |      WHEN r BETWEEN 1 AND 3 AND i = 2 * r + 1 THEN 2 * r
       |      ELSE i END AS j) s
       |), h AS (
       |  SELECT a.doc_id,
       |    bit_or(CASE WHEN b.v > a.v THEN
       |      CASE WHEN a.i = 63 THEN CAST(-9223372036854775808 AS BIGINT)
       |           ELSE (CAST(1 AS BIGINT) << a.i) END
       |      ELSE CAST(0 AS BIGINT) END) AS ahash
       |  FROM sm a JOIN sm b
       |    ON b.doc_id = a.doc_id AND b.i = a.i + 1
       |  WHERE a.i < 64
       |  GROUP BY a.doc_id
       |)""".stripMargin
  }

  /** DuckDB SQL recomputing the fixture's hash per doc id from
    * `idsCte` (must yield a doc_id column): the same mix30 pixels,
    * the same floor-mean threshold, the same bit packing (bit 63 via
    * the two's-complement constant — DuckDB refuses 1<<63, Java
    * wraps to Long.MinValue).
    */
  def fixtureHashSql(idsCte: String): String = {
    val mixed = graft.ops.Sampling.mix30Sql("(g * 101 + j)")
    s"""px AS (
       |  SELECT doc_id, i, ($mixed) % 256 AS p
       |  FROM (
       |    SELECT doc_id, doc_id // 5 AS g, doc_id % 5 AS r
       |    FROM ($idsCte)),
       |    UNNEST(generate_series(0, 63)) AS t(i),
       |    LATERAL (SELECT CASE
       |      WHEN r BETWEEN 1 AND 3 AND i = 2 * r THEN 2 * r + 1
       |      WHEN r BETWEEN 1 AND 3 AND i = 2 * r + 1 THEN 2 * r
       |      ELSE i END AS j) s
       |), mn AS (
       |  SELECT doc_id, CAST(sum(p) AS BIGINT) // 64 AS mean
       |  FROM px GROUP BY doc_id
       |), h AS (
       |  SELECT px.doc_id,
       |    bit_or(CASE WHEN p > mean THEN
       |      CASE WHEN i = 63 THEN CAST(-9223372036854775808 AS BIGINT)
       |           ELSE (CAST(1 AS BIGINT) << i) END
       |      ELSE CAST(0 AS BIGINT) END) AS ahash
       |  FROM px JOIN mn USING (doc_id) GROUP BY px.doc_id
       |)""".stripMargin
  }
}
