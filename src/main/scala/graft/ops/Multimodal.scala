package graft.ops

import graft.core.{QueryDef, Tables, Text}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (binary payload) column plumbing.
  *
  * The engine treats image/audio/video as opaque BINARY columns with typed
  * metadata (builder brief). The container has no image/audio codecs, so
  * the DECODE STEP IS A DETERMINISTIC FAKE (clearly marked below); what is
  * real — and what these queries/tests exercise — is the Spark-side
  * plumbing: binary column schema, metadata struct carry-through,
  * partition-parallel batch processing shape, and frame-index explosion.
  *
  * The `media` frame derives payloads from `documents.text` (UTF-8 bytes)
  * so every byte is deterministic and DuckDB can mirror it (`encode()`).
  */
object Multimodal {

  /** documents → media: payload BINARY + meta STRUCT — the multimodal
    * column layout (payload stays opaque; metadata is typed and prunable).
    */
  def media(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(col("lang"), col("source"), col("n_chars")).as("meta"))

  /** Feature extraction over the binary payload: byte length, 8-byte
    * header hex, FAKE-decoded dimensions (deterministic arithmetic on the
    * byte length — a real codec would parse the payload here), and frame
    * count at 32 bytes/frame.
    */
  val mediaFeatures: QueryDef = QueryDef(
    "media_features",
    (s, d) =>
      media(s, d)
        .select(
          col("doc_id"),
          length(col("payload")).as("n_bytes"),
          substring(hex(col("payload")), 1, 16).as("hdr_hex"),
          // FAKE decode: dimensions derived from length, not pixel data
          (col("doc_id") % 64 * 16 + 320).cast("int").as("width"),
          (length(col("payload")) % 480 + 120).cast("int").as("height"),
          ceil(length(col("payload")) / lit(32.0)).cast("long").as("n_frames"),
          col("meta.lang").as("lang"))
        .orderBy(col("doc_id")),
    Some("""
      SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
             substr(hex(encode(text)), 1, 16) AS hdr_hex,
             CAST(doc_id % 64 * 16 + 320 AS INT) AS width,
             CAST(octet_length(encode(text)) % 480 + 120 AS INT) AS height,
             CAST(ceil(octet_length(encode(text)) / 32.0) AS BIGINT) AS n_frames,
             lang
      FROM documents ORDER BY doc_id
    """),
    doc = "binary payload feature-extract (decode step: deterministic fake)")

  /** Frame sampling: explode each payload's frame index space, keep every
    * 4th frame, emit a per-frame content id (md5 of payload-slice hex —
    * deterministic; a real pipeline would hand the slice to a decoder).
    * The explode is row-local; downstream stays partition-parallel.
    */
  val frameSample: QueryDef = QueryDef(
    "frame_sample",
    (s, d) =>
      media(s, d)
        .withColumn("n_frames",
          ceil(length(col("payload")) / lit(32.0)).cast("int"))
        .select(col("doc_id"), col("payload"),
          explode(expr("sequence(0, n_frames - 1)")).as("frame_i"))
        .filter(col("frame_i") % 4 === 0)
        .select(col("doc_id"), col("frame_i"),
          substring(md5(substring(hex(col("payload")),
            col("frame_i") * 64 + 1, lit(64))), 1, 8).as("frame_id"))
        .orderBy(col("doc_id"), col("frame_i")),
    Some("""
      WITH m AS (SELECT doc_id, hex(encode(text)) AS ph,
                        CAST(ceil(octet_length(encode(text)) / 32.0) AS INT) AS n_frames
                 FROM documents),
      f AS (SELECT doc_id, ph, unnest(generate_series(0, n_frames - 1)) AS frame_i FROM m)
      SELECT doc_id, CAST(frame_i AS INTEGER) AS frame_i,
             substr(md5(substr(ph, frame_i * 64 + 1, 64)), 1, 8) AS frame_id
      FROM f WHERE frame_i % 4 = 0 ORDER BY doc_id, frame_i
    """),
    doc = "frame sampling: row-local index explode, every 4th frame")

  // ---- batch-shape plumbing (mapPartitions; tested, not oracle-checked) --

  /** Typed row for the partition-batch decode path. */
  final case class MediaRow(doc_id: Long, payload: Array[Byte], lang: String)

  /** Extracted features per media row. */
  final case class MediaFeatures(
      doc_id: Long, n_bytes: Int, checksum: Long, lang: String)

  /** Partition-parallel batch feature extraction — the Scala analog of a
    * pandas-batch UDF: one iterator pass per partition, constant memory,
    * no driver involvement. The per-byte "feature" is a FAKE decode
    * (rolling checksum); a real implementation would decode the payload
    * with a codec library here, batch by batch.
    */
  def decodeBatch(rows: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      it.map { r =>
        var sum = 0L
        var i = 0
        while (i < r.payload.length) {
          sum = (sum * 31 + (r.payload(i) & 0xff)) % Text.P
          i += 1
        }
        MediaFeatures(r.doc_id, r.payload.length, sum, r.lang)
      }
    }
  }

  /** The `binaryFile` SOURCE — how raw media lands in the engine before
    * any table exists: one row per file (path, modificationTime, length,
    * content BINARY), ingestion parallelized across files (each file is
    * one task input; a million-file corpus fans out across the cluster
    * with no driver-side reading). Fixture: 64 driver-written .bin files
    * whose bytes are a pure function of the file index, so the DuckDB
    * oracle regenerates the same bytes from `range(64)` without touching
    * the filesystem. `pathGlobFilter` shows server-side listing-level
    * file pruning (the decoy .tmp file never reaches a task).
    */
  val binaryFilesScan: QueryDef = QueryDef(
    "binary_files_scan",
    (s, d) => {
      val dir = new java.io.File(
        s"target/graft_bin_${d.replaceAll("[^A-Za-z0-9.]", "_")}_" +
          ProcessHandle.current().pid()).getAbsoluteFile
      dir.mkdirs()
      val digest = java.security.MessageDigest.getInstance("MD5")
      def hex(t: String): String =
        digest.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (0 until 64).foreach { i =>
        val content = hex(i.toString) * (i % 7 + 1)
        java.nio.file.Files.write(
          dir.toPath.resolve(f"doc_$i%03d.bin"),
          content.getBytes("UTF-8"))
      }
      java.nio.file.Files.write( // decoy: must be pruned by the glob
        dir.toPath.resolve("skip_me.tmp"), "x".getBytes("UTF-8"))
      s.read.format("binaryFile").option("pathGlobFilter", "*.bin")
        .load(dir.getAbsolutePath)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1)
            .cast("long").as("file_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("content_md5"))
        .orderBy(col("file_id"))
    },
    Some("""
      SELECT i AS file_id, CAST(32 * ((i % 7) + 1) AS BIGINT) AS n_bytes,
             md5(repeat(md5(CAST(i AS VARCHAR)), CAST((i % 7) + 1 AS INTEGER))) AS content_md5
      FROM range(64) t(i)
      ORDER BY file_id
    """),
    doc = "binaryFile source: per-file opaque-bytes ingestion + glob pruning")

  /** Perceptual-hash near-duplicate detection over the binary payloads —
    * the image-dedup stage of a multimodal training pipeline (aHash:
    * average-threshold bits over a downsampled thumbnail, then banded
    * Hamming search). The DECODE STEP IS THE DETERMINISTIC FAKE this
    * file documents: a real codec would emit an 8×4 luma thumbnail; here
    * the payload is decoded back to tokens and each of 32 "pixels" is a
    * CONTENT-DEFINED aggregate (round 16): every 2-word shingle (bigram)
    * hashes to hb = (h32(w_i)·33 + h32(w_{i+1})) mod 2^32, is assigned
    * to pixel (hb div 256) % 32 by its OWN hash, and contributes hb to
    * that pixel's sum (mod 256). Locality: an
    * edit perturbs exactly the ≤ 2 bigrams it touches → ≤ 4 pixels, at
    * ANY document length — which is what the round-15 fixed-size
    * chunking lacked (trailing empty chunks zeroed the high pixels
    * across unrelated docs → the measured over-cap hot buckets and 3.9%
    * silent pair loss at 50k docs) and what the rejected balanced
    * chunking destroyed (length edits shifted every boundary →
    * decorrelated all 32 pixels → zero fixture pairs). Fixture
    * non-vacuity measured BEFORE wiring (round-15 rule): the
    * md5-per-bigram DRAFT hash (preserved in Scratch.phashCdp for the
    * A/B record) measured Hamming≤1 pairs 18/17/146 at
    * sf0.001/0.01/0.1; the SHIPPED arithmetic-combine hash below
    * measured 13/13/146 with exact-dup cores 9/8/84 (SCALING.md round
    * 16), vs expected incidental collisions ≈ 0.06 pairs at sf0.1. Everything downstream is REAL and scale-true:
    * average-threshold bits stay exact integers (32·p_i ≥ Σp), the
    * 32-bit hash shards into 4×8-bit bands (pigeonhole-complete for
    * Hamming ≤ 3; the emit filter keeps the tight ≤ 1 matches), and
    * candidates come from the simhash_near_dup groupBy+pair-expand —
    * never a hash self-join, buckets capped at 1000. Payloads below 32
    * words are dropped (sub-thumbnail images).
    *
    * VALUE-BREAK migration note (round 16 → mirrors bucketStoreOf's
    * round-15 members-schema note): the content-defined pixel semantics
    * change every persisted `ph`/`ph64` VALUE, not just the plan — any
    * externally persisted pre-round-16 phash state (most notably the
    * crossModalStream store's `members` parts, which carry `ph` per
    * doc) silently stops matching hashes computed by the new code. Such
    * state needs a ONE-TIME full rebuild at the new semantics; there is
    * no in-place migration because the old chunked pixels are not
    * recoverable from the hash.
    */
  /** Perceptual hash (aHash) of each payload — factored so both the
    * banded near-dup search below and the cross-modal composition can
    * consume it. Input: (doc_id, payload BINARY); payloads under 32
    * words carry no hash (sub-thumbnail images — too few bigrams to
    * populate the 32-pixel thumbnail with usable entropy).
    */
  /** Count gate for the phash 128-bit rung (r16 verdict task 4): the
    * 64-bit aHash|dHash's 16-bit band occupancy grew mean 1.6 → 7.0
    * over the 50k → 500k decade (SCALING.md round 16) — hotter than
    * text SimHash at the same count — so phash opens its two-word rung
    * at 2M docs (text's [[graft.ops.Extended.Sim128N]] is 50M). Below
    * the gate the second pixel plane is never aggregated (the 32 extra
    * sums sit behind a crossed-in count predicate) and the ladder zeroes
    * simhash2 — every fixture SF stays bit-identical (oracles
    * unchanged, proven by hash parity at three SFs). Declared above
    * [[phashOf]] (object-init interpolation rule).
    */
  val Phash128N = 2000000L

  private[graft] def phashOf(payloads: DataFrame,
      nd: Option[DataFrame] = None): DataFrame = {
    val h32x = "CAST(conv(substr(md5(x), 1, 8), 16, 10) AS BIGINT)"
    // One exploded pass + ONE hash-agg keyed on doc_id with 32 codegen'd
    // conditional sums (pixel j collects bigrams whose own hash picks j).
    // The first cut of this computed pixels row-locally as 32
    // filter()+aggregate() lambda passes over the bigram array — O(32·L)
    // Catalyst lambda evals per doc, measured 2.4 → 41 s at the 50k-doc
    // probe. Here the per-row work is 32 branch-free codegen expressions
    // and map-side combine collapses each doc to one row pre-shuffle.
    val pixelSums = (0 until 32).map { j =>
      sum(when(expr("(h div 256) % 32") === j, col("h"))
        .otherwise(lit(0L))).as(s"p$j")
    }
    // second pixel plane (the 128-bit rung's hash material): pixel
    // assignment from an INDEPENDENT slice of the same bigram hash
    // (bits 13..17 vs plane 1's 8..12) — same content-defined locality
    // (an edit perturbs ≤ 4 pixels per plane at any length), zero extra
    // hashing. Computed ONLY when the crossed-in count clears the gate;
    // below it the sums are branch-skipped per row.
    val plane2Sums = (0 until 32).map { j =>
      sum(when(col("wide") && expr("(h div 8192) % 32") === j, col("h"))
        .otherwise(lit(0L))).as(s"q$j")
    }
    val exploded = payloads
      .select(col("doc_id"),
        Text.words(decode(col("payload"), "UTF-8")).as("w"))
      .filter(size(col("w")) >= 32)
      // bigram hash = word hashes combined arithmetically ((a·33 + b)
      // mod 2^32): one md5 per WORD, each reused by both bigrams it
      // joins — md5 over concat_ws'd bigram strings doubled the hashed
      // bytes and allocated per bigram (A/B at the 500k probe: 28 → 17 s)
      .withColumn("hw", expr(s"transform(w, x -> $h32x)"))
      .select(col("doc_id"),
        explode(expr("transform(sequence(1, size(hw) - 1), i -> " +
          "(element_at(hw, i) * 33 + element_at(hw, i + 1)) % 4294967296)"))
          .as("h"))
    val gated = nd match {
      case Some(ndF) => exploded.crossJoin(broadcast(ndF))
        .withColumn("wide", col("nd") > Phash128N)
      case None => exploded
    }
    gated
      .groupBy(col("doc_id"))
      .agg(pixelSums.head,
        (pixelSums.tail ++ (if (nd.isDefined) plane2Sums else Nil)): _*)
      .withColumn("px", expr(
        s"transform(array(${(0 until 32).map(j => s"p$j").mkString(", ")}), " +
          "p -> p % 256)"))
      .withColumn("sp", expr("aggregate(px, CAST(0 AS BIGINT), (a, x) -> a + x)"))
      .withColumn("ph", expr(
        "aggregate(sequence(1, 32), CAST(0 AS BIGINT), (a, i) -> " +
          "a + IF(32 * element_at(px, i) >= sp, " +
          "shiftleft(CAST(1 AS BIGINT), i - 1), CAST(0 AS BIGINT)))"))
      // dHash plane (round 15): bit i−1 = px_i > px_{i+1 (wrapping)} —
      // the standard difference-hash over the SAME 32 pixels, so the
      // 64-bit hash costs no extra decode work, stays exact-integer
      // (comparisons only), and is locality-preserving like the aHash
      // plane. ph64's LOW word IS the historical 32-bit aHash, which is
      // what lets the width ladder floor bit-identically at fixture SFs.
      // dh bit 31 lands on the BIGINT sign bit after the shift; Spark's
      // shiftleft wraps (Java semantics) and the oracle mirrors the wrap
      // by decomposing into (dh mod 2^31) << 32 plus an explicit
      // Long.MinValue term (DuckDB's << raises on overflow).
      .withColumn("dh", expr(
        "aggregate(sequence(1, 32), CAST(0 AS BIGINT), (a, i) -> " +
          "a + IF(element_at(px, i) > element_at(px, IF(i = 32, 1, i + 1)), " +
          "shiftleft(CAST(1 AS BIGINT), i - 1), CAST(0 AS BIGINT)))"))
      .transform { base =>
        if (nd.isEmpty)
          base.select(col("doc_id"), col("ph"),
            expr("ph + shiftleft(dh, 32)").as("ph64"))
        else base
          // the second word (aHash2 | dHash2 over plane-2 pixels): only
          // meaningful above the gate — the adaptive ladder zeroes it
          // below 128-bit width, so the below-gate constant is masked
          .withColumn("qx", expr(
            s"transform(array(${(0 until 32).map(j => s"q$j").mkString(", ")}), " +
              "p -> p % 256)"))
          .withColumn("sq", expr("aggregate(qx, CAST(0 AS BIGINT), (a, x) -> a + x)"))
          .withColumn("ph2", expr(
            "aggregate(sequence(1, 32), CAST(0 AS BIGINT), (a, i) -> " +
              "a + IF(32 * element_at(qx, i) >= sq, " +
              "shiftleft(CAST(1 AS BIGINT), i - 1), CAST(0 AS BIGINT)))"))
          .withColumn("dh2", expr(
            "aggregate(sequence(1, 32), CAST(0 AS BIGINT), (a, i) -> " +
              "a + IF(element_at(qx, i) > element_at(qx, IF(i = 32, 1, i + 1)), " +
              "shiftleft(CAST(1 AS BIGINT), i - 1), CAST(0 AS BIGINT)))"))
          .select(col("doc_id"), col("ph"),
            expr("ph + shiftleft(dh, 32)").as("ph64"),
            expr("ph2 + shiftleft(dh2, 32)").as("ph64b"))
      }
  }

  /** DuckDB mirror of [[phashOf]]: CTE chain ending in ph(doc_id, ph)
    * over `documents` (payload ≡ encode(text), so the oracle works from
    * the text directly). Shared verbatim by both phash oracles.
    */
  private[graft] val sqlPhash: String =
    s"""pws AS (SELECT doc_id, ${Text.sqlWords("text")} AS w FROM documents),
      pws32 AS (SELECT * FROM pws WHERE len(w) >= 32),
      hw AS (SELECT doc_id, [${Text.sqlH32("x")} FOR x IN w] AS hw FROM pws32),
      bg AS (SELECT doc_id,
               [(hw[i] * 33 + hw[i + 1]) % 4294967296
                FOR i IN generate_series(1, len(hw) - 1)] AS hg
             FROM hw),
      px AS (SELECT doc_id,
              [CAST(coalesce(list_sum([h FOR h IN hg IF (h // 256) % 32 = i - 1]),
                  0) AS BIGINT) % 256
               FOR i IN generate_series(1, 32)] AS px
             FROM bg),
      ph0 AS (SELECT doc_id,
              CAST(list_sum([CASE WHEN 32 * px[i] >= CAST(list_sum(px) AS BIGINT)
                       THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE CAST(0 AS BIGINT) END
                     FOR i IN generate_series(1, 32)]) AS BIGINT) AS ph,
              CAST(list_sum([CASE WHEN px[i] > px[CASE WHEN i = 32 THEN 1 ELSE i + 1 END]
                       THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE CAST(0 AS BIGINT) END
                     FOR i IN generate_series(1, 32)]) AS BIGINT) AS dh
             FROM px),
      ph AS (SELECT doc_id, ph,
              ph + ((dh % 2147483648) << 32)
                 + (CASE WHEN dh >= 2147483648
                    THEN (-9223372036854775807 - 1) ELSE CAST(0 AS BIGINT) END) AS ph64
             FROM ph0)"""

  /** Round 15: the 32-bit/8-bit-band aHash banding was the SECOND
    * instance of the fixed-domain bucket-key class (256 codes/band, cap
    * 1000 — caught by ScaleSpec's mechanized band/code audit the day it
    * landed for simhash): at the 100× probe's ~300k eligible payloads
    * mean occupancy alone (~1170) passes the cap. Fix = the identical
    * count-adaptive width ladder ([[graft.ops.Extended.simWidthLadder]],
    * shared machinery): above the 8192-doc floor the effective hash
    * widens to the 64-bit aHash|dHash and the bands to 16 bits (65 536
    * codes); at every fixture SF the masked low word IS the historical
    * aHash, so outputs stay bit-identical (zero oracle churn). The emit
    * threshold stays Hamming ≤ 1 at the effective width.
    *
    * Round 16 (r15 verdict task 1): the RESIDUAL over-cap buckets the
    * 64-bit rung left (75 of 169,701 at 500k docs; 3.9% pair loss at
    * 50k) were an artifact of the fixed-size pixel chunking, not the
    * banding — fixed at the source by the content-defined bigram pixels
    * ([[phashOf]]); SimhashProbe's phash mode re-measured occupancy and
    * pair loss after the change (SCALING.md round 16).
    */
  val imagePhashNearDup: QueryDef = QueryDef(
    "image_phash_near_dup",
    (s, d) => {
      // two-word signatures since r17: ph64b (the gated second pixel
      // plane) rides along as simhash2, and the adaptive banding opens
      // the 128-bit rung at the phash-specific Phash128N threshold —
      // below it simhash2 is zeroed by the ladder and every output is
      // bit-identical to the r16 behavior (oracle unchanged).
      val nd = Tables.documents(s, d).agg(count(lit(1)).as("nd"))
      val ph = phashOf(media(s, d).select(col("doc_id"), col("payload")),
          Some(nd))
        .select(col("doc_id"), col("ph64").as("simhash"),
          col("ph64b").as("simhash2"))
      graft.ops.Extended.simhashPairsAdaptiveFrom(ph, nd, n128 = Phash128N)
        .filter(col("hamming") <= 1)
        .orderBy(col("d1"), col("d2"))
    },
    Some(s"""
      WITH $sqlPhash,
      nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
      wl AS (SELECT ${graft.ops.Extended.simWidthLadder("nd")} AS wb FROM nd),
      se AS (SELECT doc_id,
               CASE WHEN wl.wb = 32 THEN ph64 & 4294967295
                    ELSE ph64 END AS sig,
               wl.wb // 4 AS bb
             FROM ph, wl),
      sbands AS (SELECT doc_id, b AS band,
                   (sig >> (bb * b)) & ((CAST(1 AS BIGINT) << bb) - 1) AS code
                 FROM se, (SELECT unnest([0, 1, 2, 3]) AS b) bs),
      spairs AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM sbands a
        JOIN (SELECT band, code FROM sbands GROUP BY 1, 2
              HAVING count(*) BETWEEN 2 AND 1000) ok
          ON a.band = ok.band AND a.code = ok.code
        JOIN sbands b ON a.band = b.band AND a.code = b.code
          AND a.doc_id < b.doc_id)
      SELECT d1, d2, hamming FROM (
        SELECT p.d1, p.d2, CAST(bit_count(xor(x.sig, y.sig)) AS INT) AS hamming
        FROM spairs p JOIN se x ON x.doc_id = p.d1
        JOIN se y ON y.doc_id = p.d2)
      WHERE hamming <= 1 ORDER BY d1, d2
    """),
    doc = "perceptual-hash near-dup, count-adaptive 32-bit aHash / 64-bit aHash+dHash width")

  /** Cross-modal curation gate — the composition a multimodal training
    * pipeline runs once per-modality dedup exists: records the TEXT side
    * says are duplicates ([[graft.ops.Extended.clusterAssignments]]'s
    * near-dup clusters) audited against the MEDIA side's perceptual
    * hash. Per non-canonical cluster member: the Hamming distance of its
    * payload aHash to the cluster canonical's (the `cluster_canonical`
    * election rule — longest text, tie = lowest id), and the
    * `media_match` verdict at the phash family's ≤ 1 threshold. A FALSE
    * is the interesting record: text-duplicate-but-media-distinct —
    * collapsing it onto the canonical would silently drop unique media,
    * so a curation pipeline must gate on ALL modalities before keeping
    * one representative. Scale shape: phash is computed only for
    * CLUSTER MEMBERS (semi-join pushes the member set below the
    * 32-pixel lambda work — members ≪ corpus), the canonical's hash
    * rides a first_value window over the member frame (no join-back,
    * no second phash pass), and the CC assignment subtree is the same
    * checkpointed fixpoint dup_clusters runs (driver-coordinated →
    * ScaleSpec `eager`). Docs under 32 words carry no phash; their
    * hamming is NULL and media_match false (unverifiable media ≠
    * verified match).
    */
  val crossModalCheck: QueryDef = QueryDef(
    "cross_modal_check",
    (s, d) => {
      val ca = graft.ops.Extended.clusterAssignments(s, d)
      val memberPh = phashOf(
        media(s, d).select(col("doc_id"), col("payload"))
          .join(ca.select(col("doc_id")), Seq("doc_id"), "semi"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id"))
        .orderBy(col("n_chars").desc, col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      ca.join(Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
          Seq("doc_id"))
        .join(memberPh, Seq("doc_id"), "left")
        .withColumn("canon_id", first(col("doc_id")).over(w))
        .withColumn("cph", first(col("ph")).over(w))
        .filter(col("doc_id") =!= col("canon_id"))
        .withColumn("hamming",
          expr("CAST(bit_count(ph ^ cph) AS INT)"))
        .select(col("doc_id"), col("cluster_id"), col("canon_id"),
          col("hamming"),
          coalesce(col("hamming") <= 1, lit(false)).as("media_match"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH RECURSIVE ${graft.ops.Extended.sqlClusterCc},
      $sqlPhash,
      j AS (SELECT cc.doc_id, cc.cluster_id, d.n_chars, ph.ph
            FROM cc JOIN documents d USING (doc_id)
            LEFT JOIN ph USING (doc_id)),
      r AS (SELECT *,
              first_value(doc_id) OVER w AS canon_id,
              first_value(ph) OVER w AS cph
            FROM j
            WINDOW w AS (PARTITION BY cluster_id
              ORDER BY n_chars DESC, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
      SELECT doc_id, cluster_id, canon_id,
             CAST(bit_count(xor(ph, cph)) AS INT) AS hamming,
             coalesce(bit_count(xor(ph, cph)) <= 1, FALSE) AS media_match
      FROM r WHERE doc_id <> canon_id ORDER BY doc_id
    """),
    doc = "cross-modal gate: text near-dup members vs canonical's media phash")

  val all: Seq[QueryDef] = Seq(mediaFeatures, frameSample, binaryFilesScan,
    imagePhashNearDup, crossModalCheck)
}
