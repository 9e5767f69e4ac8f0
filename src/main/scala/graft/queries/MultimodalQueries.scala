package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Blocking, Multimodal}
import graft.sources.Tables

/** Multimodal extension queries (q60–q62) over a media table synthesized
  * from `documents` (text bytes stand in for image/audio payloads — see
  * Multimodal's stub-codec note).
  *
  * q61's feature vectors come from the partition-wise stub codec
  * (mapPartitions, not SQL-expressible), but its dumped digest IS: the
  * stub fold is Σ bytes / 256 with every partial sum exact in float32
  * (StubCodec scaladoc), so the oracle re-renders the byte fold in
  * DuckDB via hex(encode(text)) and a list comprehension.
  */
object MultimodalQueries {

  private def media(s: SparkSession, dir: String): DataFrame =
    Multimodal.fromDocuments(Tables.load(s, dir, "documents"))

  /** q213 perceptual fingerprint parameters: the payload's first
    * [[CropBytes]] bytes (the "thumbnail crop" — perceptual hashes
    * always work on a fixed-size resample, which is also what makes
    * byte-appended variants of the same media collide) resampled to
    * [[DHashPixels]] pixels, then the difference hash (bit i = pixel
    * i > pixel i+1, Krawetz's dHash) packed as two 32-bit words for
    * safe int64 band/XOR arithmetic in both engines. */
  private val CropBytes = 128
  private val DHashPixels = 65 // 64 difference bits = 2 × 32-bit words
  private val HamThresh = 6    // near-dup: ≤6 of 64 bits differ
  private val BandCap = 64     // per-(band,value) occupancy cap

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Binary payload + typed metadata projection.
    "q60_media_meta" -> ((s, dir) =>
      media(s, dir).select(
          col("media_id"),
          octet_length(col("content")).as("n_bytes"),
          md5(col("content")).as("content_md5"),
          col("meta.mime").as("mime"),
          col("meta.duration_ms").as("duration_ms"))
        .orderBy("media_id")),

    // Partition-wise stub-codec feature extraction; digest oracled below.
    "q61_media_features" -> ((s, dir) => {
      import s.implicits._
      val ds = media(s, dir).as[Multimodal.MediaRow]
      Multimodal.extractFeatures(ds, dim = 8).toDF()
        .select(col("media_id"), col("n_bytes"),
          // deterministic scalar digest of the vector for a stable dump
          aggregate(col("features"), lit(0.0d),
            (acc, x) => acc + x.cast("double")).as("feature_sum"))
        .orderBy("media_id")
    }),

    // Metadata-driven frame sampling: one row per 100ms frame offset.
    "q62_frame_offsets" -> ((s, dir) =>
      Multimodal.frameOffsets(media(s, dir), everyMs = 100L)
        .select(col("media_id"), col("frame_ms"))
        .orderBy("media_id", "frame_ms")),

    // Stub RESIZE (the remaining codec-boundary op after decode /
    // features / frame-sample): nearest-neighbor downsample of the raw
    // payload to 16 "pixels" — pixel i = byte at (i·len) div 16, exact
    // integer index arithmetic. A real image codec would resample
    // decoded planes; the Spark-side shape (per-row expressions over
    // binary, no shuffle) is identical. Both engines read bytes from
    // the hex rendering two chars at a time, so codes hash-compare.
    "q84_media_resize" -> ((s, dir) => {
      val px = 16
      val len = octet_length(col("content"))
      val hx = hex(col("content"))
      // (i·len)/16 stays exact in double (ints ≪ 2^53), so floor ≡ the
      // oracle's integer division
      val pixels = transform(sequence(lit(0), lit(px - 1)), i =>
        conv(hx.substr(
          (floor((i * len) / lit(px.toDouble)).cast("int") * 2 + 1), lit(2)), 16, 10)
          .cast("long"))
      media(s, dir)
        .where(octet_length(col("content")) > 0)
        .withColumn("pixels", pixels)
        .select(col("media_id"), len.as("n_bytes"),
          aggregate(col("pixels"), lit(0L), (a, x) => a + x).as("pixel_sum"),
          concat_ws("|", col("pixels").cast("array<string>")).as("pixels_str"))
        .orderBy("media_id")
    }),

    // MEDIA PERCEPTUAL NEAR-DUP (q213): the dedup modality the text
    // families (q130/q137) cover for text and q54/q88 for embeddings,
    // closed for binary media — fingerprint every payload with a
    // 64-bit difference hash over a fixed-crop resample (the q84
    // pixel codec), block candidates by 16-bit Hamming BANDS (two
    // sketches within distance d < 4 share ≥1 of 4 bands — the q160
    // two-word XOR/popcount machinery), exact-verify popcount ≤
    // HamThresh, and emit q87-style keep representatives (keep = min
    // media_id over verified neighbors ∪ self; one-hop by design so
    // the oracle stays SQL-expressible — transitive closure is q70/
    // q87's components territory). Scale shape: fingerprints are a
    // per-row projection (no shuffle); candidates come from a
    // band-bucket Blocking self-join with its cap bounding any hot
    // bucket (quadratic occupancy structurally impossible — ScaleSpec
    // precedent); verification is codegen'd xor+bit_count on two
    // int64s; the rep rollup is one shuffle on media_id. Fixture
    // behavior (sf0.001): 24 pairs at Hamming 0 (the shared-prefix
    // media), next candidate at 15 — the ≤6 threshold sits in a
    // 9-bit empty gap, so the verify isn't knife-edged.
    "q213_media_near_dup" -> ((s, dir) => {
      val len = octet_length(col("content"))
      val crop = least(len, lit(CropBytes))
      val hx = hex(col("content"))
      // pixel i = byte[(i·crop) div DHashPixels]: (i·crop)/65 is exact
      // in double (ints ≪ 2^53) so floor ≡ the oracle's integer div
      val pixels = transform(sequence(lit(0), lit(DHashPixels - 1)), i =>
        conv(hx.substr(
          (floor((i * crop) / lit(DHashPixels.toDouble)).cast("int") * 2 + 1),
          lit(2)), 16, 10).cast("long"))
      def word(p: Column, off: Int): Column =
        (0 until 32).map(i =>
          when(element_at(p, off + i + 1) > element_at(p, off + i + 2),
            lit(1L << i)).otherwise(lit(0L))).reduce(_.bitwiseOR(_))
      val f = media(s, dir).where(len > 0)
        .select(col("media_id"), pixels.as("p"))
        .select(col("media_id"),
          word(col("p"), 0).as("w0"), word(col("p"), 32).as("w1"))
      val banded = f.select(col("media_id"), col("w0"), col("w1"),
          explode(array(
            struct(lit(0L).as("band"), expr("w0 div 65536").as("v")),
            struct(lit(1L).as("band"), expr("w0 % 65536").as("v")),
            struct(lit(2L).as("band"), expr("w1 div 65536").as("v")),
            struct(lit(3L).as("band"), expr("w1 % 65536").as("v")))).as("bd"))
        .select(col("media_id"), col("w0"), col("w1"),
          col("bd.band").as("band"), col("bd.v").as("v"))
      val pairs = Blocking(banded, Seq("band", "v"), "media_id", BandCap)
        .selfPairs(Blocking.Lt, multiKey = true)
        .where(expr(s"bit_count(w0_a ^ w0_b) + bit_count(w1_a ^ w1_b) <= $HamThresh"))
        .select(col("media_id_a").as("a"), col("media_id_b").as("b"))
      val agg = Blocking.mirror(pairs, "a", "b").groupBy("a")
        .agg(min("b").as("mn"), count(lit(1)).as("n_near_dups"))
      f.join(agg, f("media_id") === agg("a"), "left")
        .select(col("media_id"),
          least(col("media_id"), coalesce(col("mn"), col("media_id")))
            .as("keep_media_id"),
          coalesce(col("n_near_dups"), lit(0L)).as("n_near_dups"))
        .orderBy("media_id")
    }))

  val oracleSql: Map[String, String] = Map(
    "q60_media_meta" ->
      """SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes,
        |  md5(text) AS content_md5, 'text/plain' AS mime,
        |  CAST(len(text) AS BIGINT) * 10 AS duration_ms
        |FROM documents ORDER BY media_id""".stripMargin,

    // The stub byte fold, re-expressed: per-slot float32 sums are exact
    // multiples of 2⁻⁸ (StubCodec scaladoc), so feature_sum ≡ Σ bytes/256
    // with one exact double division — engine-portable. Bytes are read
    // from hex(encode(text)) two chars at a time.
    //
    // HARD PRECONDITION: exactness holds only while each slot's byte sum
    // stays < 2²⁴ (float32 integer range), i.e. payloads ≲ 0.5 MB at
    // dim = 8. The fixture documents are well under that; a real codec
    // replacing the stub must either keep payloads bounded or accumulate
    // in double before this oracle is trusted.
    "q61_media_features" ->
      """SELECT doc_id AS media_id,
        |  octet_length(encode(text)) AS n_bytes,
        |  CAST(coalesce(list_sum(
        |    [CAST('0x' || substr(hex(encode(text)), 2*i - 1, 2) AS INT)
        |     for i in range(1, octet_length(encode(text)) + 1)]), 0) AS DOUBLE)
        |    / 256.0 AS feature_sum
        |FROM documents ORDER BY media_id""".stripMargin,

    "q62_frame_offsets" ->
      """SELECT doc_id AS media_id, unnest(range(0, CAST(len(text) AS BIGINT) * 10 + 1, 100)) AS frame_ms
        |FROM documents ORDER BY media_id, frame_ms""".stripMargin,

    // q213: same crop/resample/dHash pipeline, bands via UNION ALL,
    // same cap (row_number ≤ BandCap by media_id), same ≤HamThresh
    // verify, same one-hop min-neighbor representative.
    "q213_media_near_dup" ->
      s"""WITH m AS (
         |  SELECT doc_id AS media_id,
         |    least(octet_length(encode(text)), $CropBytes) AS crop,
         |    hex(encode(text)) AS hx
         |  FROM documents WHERE octet_length(encode(text)) > 0),
         |p AS (
         |  SELECT media_id,
         |    [CAST('0x' || substr(hx, ((i * crop) // $DHashPixels) * 2 + 1, 2)
         |      AS BIGINT) for i in range(0, $DHashPixels)] AS px
         |  FROM m),
         |f AS (
         |  SELECT media_id,
         |    list_sum([CASE WHEN px[i+1] > px[i+2]
         |      THEN (CAST(1 AS BIGINT) << i) ELSE 0 END
         |      for i in range(0, 32)]) AS w0,
         |    list_sum([CASE WHEN px[32+i+1] > px[32+i+2]
         |      THEN (CAST(1 AS BIGINT) << i) ELSE 0 END
         |      for i in range(0, 32)]) AS w1
         |  FROM p),
         |banded AS (
         |  SELECT media_id, w0, w1, 0 AS band, w0 // 65536 AS v FROM f
         |  UNION ALL SELECT media_id, w0, w1, 1, w0 % 65536 FROM f
         |  UNION ALL SELECT media_id, w0, w1, 2, w1 // 65536 FROM f
         |  UNION ALL SELECT media_id, w0, w1, 3, w1 % 65536 FROM f),
         |capped AS (
         |  SELECT * FROM (SELECT *, row_number() OVER (
         |      PARTITION BY band, v ORDER BY media_id) AS rk FROM banded)
         |  WHERE rk <= $BandCap),
         |pairs AS (
         |  SELECT DISTINCT x.media_id AS a, x.w0 AS a0, x.w1 AS a1,
         |         y.media_id AS b, y.w0 AS b0, y.w1 AS b1
         |  FROM capped x JOIN capped y ON y.band = x.band AND y.v = x.v
         |    AND x.media_id < y.media_id),
         |ver AS (
         |  SELECT a, b FROM pairs
         |  WHERE bit_count(xor(a0, b0)) + bit_count(xor(a1, b1)) <= $HamThresh),
         |sym AS (SELECT a, b FROM ver UNION ALL SELECT b, a FROM ver),
         |agg AS (SELECT a, min(b) AS mn, CAST(count(*) AS BIGINT) AS nn
         |  FROM sym GROUP BY 1)
         |SELECT f.media_id,
         |  least(f.media_id, coalesce(agg.mn, f.media_id)) AS keep_media_id,
         |  coalesce(agg.nn, 0) AS n_near_dups
         |FROM f LEFT JOIN agg ON agg.a = f.media_id
         |ORDER BY media_id""".stripMargin,

    "q84_media_resize" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes,
        |    hex(encode(text)) AS hx
        |  FROM documents WHERE octet_length(encode(text)) > 0),
        |p AS (
        |  SELECT media_id, n_bytes,
        |    [CAST('0x' || substr(hx, ((i * n_bytes) // 16) * 2 + 1, 2) AS BIGINT)
        |     for i in range(0, 16)] AS pixels
        |  FROM m)
        |SELECT media_id, n_bytes,
        |  list_reduce(list_concat([CAST(0 AS BIGINT)], pixels), (a, x) -> a + x) AS pixel_sum,
        |  array_to_string(pixels, '|') AS pixels_str
        |FROM p ORDER BY media_id""".stripMargin)
}
