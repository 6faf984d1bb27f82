package graft.ops

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal-column plumbing: opaque binary payloads + typed metadata,
  * processed by a partition-wise "decoder".
  *
  * The real image/audio decode step is STUBBED (this container has no media
  * libraries): `decodeStub` derives deterministic fake features (byte length,
  * fake frame count, md5 checksum, first byte) from the payload bytes. The
  * Spark-side plumbing is real and is the part under test: binary column +
  * metadata struct schema, `mapPartitions` batch shape (one decoder init per
  * partition, streamed iterator — the Scala analog of a Pandas-UDF
  * `mapInPandas` batch), and a partition count that scales with input splits
  * rather than row count.
  */
object MultimodalOps extends graft.QueryFamily {
  /** Deterministic fake "decode" — replace with a real media decoder. */
  private[ops] def decodeStub(payload: Array[Byte]): (Long, Long, String, Long) = {
    val md = MessageDigest.getInstance("MD5")
    val checksum = md.digest(payload).map("%02x".format(_)).mkString
    val byteLen = payload.length.toLong
    val nFrames = byteLen / 256 + 1 // fake frame-sampling: one frame per 256 bytes
    val head = if (payload.nonEmpty) (payload(0) & 0xff).toLong else -1L
    (byteLen, nFrames, checksum, head)
  }

  val queries: Map[String, Q] = Map(
    // Binary payload + metadata struct → per-partition decoded features.
    "mm1_binary_decode" -> { (s, d) =>
      import s.implicits._
      val blobs = Tables.documents(s, d).select(
        col("doc_id"),
        col("text").cast("binary").as("payload"),
        struct(col("lang"), col("source"), col("n_chars")).as("meta"))
      val decoded = blobs
        .select(col("doc_id"), col("payload"), col("meta.n_chars").as("n_chars"))
        .as[(Long, Array[Byte], Long)]
        .mapPartitions { it =>
          // one decoder context per partition (the expensive-init seam a
          // real decoder needs); rows stream through without buffering.
          it.map { case (id, payload, nChars) =>
            val (byteLen, nFrames, checksum, head) = decodeStub(payload)
            (id, byteLen, nFrames, checksum, head, nChars)
          }
        }
        .toDF("doc_id", "byte_len", "n_frames", "checksum", "head_byte", "n_chars")
      decoded.orderBy("doc_id")
    },

    // MM3: MODALITY ROUTING — the dispatch step of a mixed-modality corpus:
    // sniff each blob's magic bytes and route it to the right decoder
    // family. Deterministic magics (JPEG/PNG/RIFF) are injected by doc_id
    // so the corpus is genuinely mixed; the SNIFF side then reads the real
    // leading bytes of the binary (substring on BinaryType, codegen'd — a
    // pure projection that never touches the payload tail, which is what
    // makes routing free at 100 TB: no decode, no full-blob read past the
    // header). The oracle replays the injection rule.
    // MM6: MODALITY-BALANCED BATCH COMPOSITION — the multimodal training
    // batcher: each batch interleaves modalities at a fixed 2:1:1 recipe
    // (two text slots, one image, one audio — mm3's doc_id%3 synthetic
    // modality convention), with a seeded-hash shuffle per modality so
    // batch membership is a deterministic permutation (sa16's no-RNG-state
    // epoch convention). Slot index = per-modality rank via the TWO-LEVEL
    // distributed prefix count (bucket by hash prefix, cumsum the tiny
    // per-bucket counts, row_number only WITHIN buckets) — a naive
    // per-modality global window would funnel the corpus into 3
    // partitions. Tail batches that miss a modality surface as
    // is_complete = false (the drop-last-incomplete-batch audit).
    "mm6_batch_compose" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("tokens"))
        .withColumn("modality", (col("doc_id") % 3).cast("int"))
        .withColumn("h", expr(
          "CAST(conv(substring(md5(concat('graft-batch|', " +
            "CAST(doc_id AS STRING))), 1, 7), 16, 10) AS BIGINT)"))
        .withColumn("pid", (col("h") / 1048576L).cast("long"))
      val offs = docs.groupBy("modality", "pid")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("off", coalesce(sum(col("cnt")).over(
          w.partitionBy("modality").orderBy("pid")
            .rowsBetween(w.unboundedPreceding, -1)), lit(0L)))
        .select("modality", "pid", "off")
      val wLocal = w.partitionBy("modality", "pid").orderBy("h", "doc_id")
      docs.join(broadcast(offs), Seq("modality", "pid"))
        .withColumn("rn", row_number().over(wLocal) - 1 + col("off"))
        .withColumn("batch",
          expr("CASE WHEN modality = 0 THEN rn div 2 ELSE rn END"))
        .groupBy("batch")
        .agg(
          sum(when(col("modality") === 0, 1L).otherwise(0L)).as("n_text"),
          sum(when(col("modality") === 1, 1L).otherwise(0L)).as("n_image"),
          sum(when(col("modality") === 2, 1L).otherwise(0L)).as("n_audio"),
          sum(col("tokens")).as("total_tokens"))
        .withColumn("is_complete",
          col("n_text") === 2 && col("n_image") === 1 && col("n_audio") === 1)
        .orderBy("batch")
    },

    "mm3_modality_route" -> { (s, d) =>
      val blobs = Tables.documents(s, d).select(col("doc_id"), expr(
        """concat(CASE CAST(doc_id % 3 AS INT)
                  WHEN 0 THEN X'FFD8FF'
                  WHEN 1 THEN X'89504E47'
                  ELSE X'52494646' END,
                  CAST(text AS BINARY))""").as("payload"))
      blobs
        .withColumn("modality",
          when(expr("substring(payload, 1, 3) = X'FFD8FF'"), "image/jpeg")
            .when(expr("substring(payload, 1, 4) = X'89504E47'"), "image/png")
            .when(expr("substring(payload, 1, 4) = X'52494646'"), "audio/wav")
            .otherwise("unknown"))
        .groupBy("modality")
        .agg(
          count(lit(1)).as("n_blobs"),
          sum(length(col("payload"))).cast("long").as("total_bytes"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("modality")
    },

    // MM4: CONTENT-ADDRESSED chunking — the binary-asset dedup/storage
    // primitive: split each blob into fixed 256-byte chunks, digest each,
    // and derive a Merkle-style root over the ordered chunk digests. Chunk
    // digests dedupe shared prefixes across assets (content-addressed
    // storage); the root is the asset's identity. Pure expression-level
    // array work (transform over a sequence — no explode, no shuffle until
    // the final sort), so it pipelines inside one codegen stage.
    "mm4_content_address" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .withColumn("byte_len", length(col("payload")).cast("long"))
        .withColumn("chunk_md5s", expr(
          """transform(sequence(0, CAST((byte_len - 1) div 256 AS INT)),
             i -> md5(substring(payload, i * 256 + 1, 256)))"""))
        .select(
          col("doc_id"), col("byte_len"),
          size(col("chunk_md5s")).cast("long").as("n_chunks"),
          element_at(col("chunk_md5s"), 1).as("first_chunk_md5"),
          md5(expr("CAST(array_join(chunk_md5s, '') AS BINARY)")).as("root_md5"))
        .orderBy("doc_id")
    },

    // MM5: perceptual-hash (aHash) near-dup detection over the binary
    // payload — the multimodal dedup primitive: a 16-bit block-average
    // hash (16 blocks × 16 bytes of the 256-byte head window; bit k set
    // iff block k's byte sum beats the global average — the integer form
    // 16·bsum_k > total, no division) collapses exact and
    // near-identical payloads onto equal or 1-bit-distant hashes. Pairing
    // NEVER goes all-pairs: exact dups group by hash, hamming-1
    // candidates come from the 16-variant FLIP PROBE join (each doc emits
    // its hash with every single bit flipped; a probe hitting another
    // doc's base hash is a distance-1 pair, found exactly once under the
    // id-order filter) — the Manku pigeonhole trick at radius 1, linear
    // in corpus size. Real images swap the byte-average for a decoded
    // luma grid (mm1's decoder seam); the hash/probe plumbing is
    // identical.
    "mm5_phash_dedup" -> { (s, d) =>
      // Block sums via explode + ONE pivot-style hash-agg, NOT nested
      // higher-order lambdas: Spark's transform/aggregate HOFs evaluate
      // interpreted (outside whole-stage codegen), and the nested 16×16
      // fold benched 40+ s at sf0.1. The exploded stream aggregates
      // straight to one row per doc — 16 conditional block sums plus the
      // grand total in a single codegen'd hash-agg (map-side partials, one
      // exchange on doc_id) — and the 16 threshold bits assemble in a
      // post-agg projection. The earlier two-agg shape paid a second
      // doc-partitioned exchange + sort for a window total between the
      // aggs; folding the total into the same agg removes it. Same
      // integers, same hash.
      val codes = Tables.documents(s, d)
        .select(col("doc_id"), rpad(col("text"), 256, " ").as("pw"))
        .select(col("doc_id"), explode(expr("sequence(1, 256)")).as("i"), col("pw"))
        .select(col("doc_id"), ((col("i") - 1) / 16).cast("int").as("blk"),
          ascii(expr("substring(pw, i, 1)")).cast("long").as("code"))
      val blockSums = (0 until 16).map(k =>
        sum(when(col("blk") === k, col("code")).otherwise(0L)).as(s"b$k"))
      val base = codes
        .groupBy("doc_id")
        .agg(blockSums.head, (blockSums.tail :+ sum(col("code")).as("total")): _*)
        .select(col("doc_id"),
          (0 until 16).map(k =>
            when(col(s"b$k") * 16 > col("total"), lit(1L << k)).otherwise(0L))
            .reduce(_ + _).as("ahash"))
      val perHash = base.groupBy("ahash").agg(count(lit(1)).as("n"))
      // n_docs = Σn over the histogram — the census derives entirely from
      // perHash, so `base` is NOT recomputed for a separate global count.
      val exact = perHash.agg(
        sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_distinct_hashes"),
        sum(expr("n * (n - 1) DIV 2")).as("n_exact_pairs"),
        max(col("n")).as("max_cluster"))
      val probes = base
        .withColumn("j", explode(expr("sequence(0, 15)")))
        .select(col("doc_id").as("doc_a"),
          expr("ahash ^ shiftleft(1L, j)").as("hv"))
      val ham1 = probes
        .join(base.select(col("doc_id").as("doc_b"), col("ahash").as("hv")), "hv")
        .filter(col("doc_a") < col("doc_b"))
        .agg(count(lit(1)).as("n_hamming1_pairs"))
      exact.crossJoin(broadcast(ham1))
        .select("n_docs", "n_distinct_hashes", "max_cluster",
          "n_exact_pairs", "n_hamming1_pairs")
    },

    // MM2: frame sampling over an opaque binary payload — treat the blob as
    // a fixed-stride frame sequence (64-byte "frames", the video-decode
    // stub), take every 4th frame, emit per-frame length + checksum. The
    // frame index table comes from `sequence` + `explode` (no UDF) and the
    // byte slicing is `substring` on BinaryType — all codegen'd, and the
    // explode multiplies rows BEFORE the shuffle-free projection, so the
    // plan is a single scan→project pipeline at any scale.
    "mm2_frame_sample" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .withColumn("byte_len", length(col("payload")).cast("long"))
        .withColumn("frame_idx",
          explode(expr("sequence(0, CAST((byte_len - 1) div 64 AS INT), 4)")))
        .withColumn("frame",
          expr("substring(payload, frame_idx * 64 + 1, 64)"))
        .select(
          col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          length(col("frame")).cast("long").as("frame_len"),
          md5(col("frame")).as("frame_md5"))
        .orderBy("doc_id", "frame_idx")
    })

  val oracles: Map[String, String] = Map(
    // One flat per-modality window replays the two-level prefix count:
    // same (h, doc_id) total order, same 2:1:1 slotting.
    "mm6_batch_compose" ->
      """WITH docs AS (
           SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
                  CAST(doc_id % 3 AS INT) AS modality,
                  ('0x' || substr(md5('graft-batch|' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT AS h
           FROM documents),
         rn AS (SELECT *,
                       ROW_NUMBER() OVER (PARTITION BY modality
                         ORDER BY h, doc_id) - 1 AS rn
                FROM docs),
         slotted AS (SELECT *,
                            CASE WHEN modality = 0 THEN rn // 2 ELSE rn END AS batch
                     FROM rn)
         SELECT CAST(batch AS BIGINT) AS batch,
                CAST(SUM(CASE WHEN modality = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_text,
                CAST(SUM(CASE WHEN modality = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_image,
                CAST(SUM(CASE WHEN modality = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_audio,
                CAST(SUM(tokens) AS BIGINT) AS total_tokens,
                (SUM(CASE WHEN modality = 0 THEN 1 ELSE 0 END) = 2 AND
                 SUM(CASE WHEN modality = 1 THEN 1 ELSE 0 END) = 1 AND
                 SUM(CASE WHEN modality = 2 THEN 1 ELSE 0 END) = 1) AS is_complete
         FROM slotted GROUP BY 1 ORDER BY 1""",

    // ASCII text: octet_length == n_chars, first byte == first code point,
    // md5(blob) == md5(text).
    "mm1_binary_decode" ->
      """SELECT doc_id,
                CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
                CAST(octet_length(encode(text)) // 256 + 1 AS BIGINT) AS n_frames,
                md5(text) AS checksum,
                CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS head_byte,
                n_chars
         FROM documents ORDER BY doc_id""",

    // Replays the injection rule (doc_id % 3 → magic family) + exact byte
    // accounting: 3-byte JPEG magic, 4-byte PNG/RIFF magics, ASCII text.
    "mm3_modality_route" ->
      """WITH routed AS (
           SELECT doc_id,
                  CASE CAST(doc_id % 3 AS INT)
                    WHEN 0 THEN 'image/jpeg'
                    WHEN 1 THEN 'image/png'
                    ELSE 'audio/wav' END AS modality,
                  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 3 ELSE 4 END
                    + octet_length(encode(text)) AS blob_bytes
           FROM documents)
         SELECT modality, COUNT(*) AS n_blobs,
                CAST(SUM(blob_bytes) AS BIGINT) AS total_bytes,
                MIN(doc_id) AS first_doc
         FROM routed GROUP BY 1 ORDER BY 1""",

    // ASCII text ⇒ 256-byte chunks are substr windows; md5 agrees
    // byte-for-byte and the root digests the concatenated hex digests.
    "mm4_content_address" ->
      """WITH c AS (
           SELECT doc_id,
                  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
                  list_transform(generate_series(0, (octet_length(encode(text)) - 1) // 256),
                                 i -> md5(substr(text, i * 256 + 1, 256))) AS chunk_md5s
           FROM documents)
         SELECT doc_id, byte_len,
                CAST(len(chunk_md5s) AS BIGINT) AS n_chunks,
                chunk_md5s[1] AS first_chunk_md5,
                md5(array_to_string(chunk_md5s, '')) AS root_md5
         FROM c ORDER BY doc_id""",

    // ASCII text ⇒ char codes == byte values, so the block sums replay as
    // ascii(substr(...)) folds; same strict-inequality bit rule, same
    // flip-probe pairing (1-based list indexing on BOTH sides via
    // element_at / [k+1] — Spark's [] is 0-based, DuckDB's is 1-based,
    // so the bracket operator never appears in either form).
    "mm5_phash_dedup" ->
      """WITH p AS (SELECT doc_id, rpad(text, 256, ' ') AS pw FROM documents),
         b AS (
           SELECT doc_id,
                  list_transform(generate_series(0, 15), k ->
                    CAST(list_sum(list_transform(generate_series(1, 16),
                      i -> ascii(substr(pw, CAST(k * 16 + i AS INTEGER), 1)))) AS BIGINT)) AS bsums
           FROM p),
         h AS (
           SELECT doc_id,
                  CAST(list_sum(bsums) AS BIGINT) AS total,
                  bsums
           FROM b),
         hh AS (
           SELECT doc_id,
                  CAST(list_sum(list_transform(generate_series(0, 15), k ->
                    CASE WHEN bsums[CAST(k + 1 AS INTEGER)] * 16 > total
                         THEN (CAST(1 AS BIGINT) << CAST(k AS INTEGER)) ELSE 0 END))
                    AS BIGINT) AS ahash
           FROM h),
         per AS (SELECT ahash, COUNT(*) AS n FROM hh GROUP BY 1),
         ex AS (
           SELECT COUNT(*) AS n_distinct_hashes,
                  CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS n_exact_pairs,
                  CAST(MAX(n) AS BIGINT) AS max_cluster
           FROM per),
         probes AS (
           SELECT doc_id AS doc_a, xor(ahash, CAST(1 AS BIGINT) << CAST(j AS INTEGER)) AS hv
           FROM hh, UNNEST(generate_series(0, 15)) AS g(j)),
         ham AS (
           SELECT COUNT(*) AS n_hamming1_pairs
           FROM probes pr JOIN hh b2 ON pr.hv = b2.ahash AND pr.doc_a < b2.doc_id),
         nd AS (SELECT COUNT(*) AS n_docs FROM hh)
         SELECT nd.n_docs, ex.n_distinct_hashes, ex.max_cluster,
                ex.n_exact_pairs, ham.n_hamming1_pairs
         FROM nd CROSS JOIN ex CROSS JOIN ham""",

    // ASCII text ⇒ byte slicing == char slicing, so the oracle frames are
    // substr() windows of the text and md5 agrees byte-for-byte.
    "mm2_frame_sample" ->
      """SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
                CAST(length(substr(text, frame_idx * 64 + 1, 64)) AS BIGINT) AS frame_len,
                md5(substr(text, frame_idx * 64 + 1, 64)) AS frame_md5
         FROM documents,
              UNNEST(generate_series(0, (octet_length(encode(text)) - 1) // 64, 4)) AS g(frame_idx)
         ORDER BY doc_id, frame_idx""")
}
