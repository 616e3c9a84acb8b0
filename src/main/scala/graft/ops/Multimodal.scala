package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Multimodal-column plumbing (m01..m03): media payloads modeled as
  * opaque `binary` columns with typed metadata, plus the batched
  * decode→feature pattern a real pipeline uses for images/audio/video.
  *
  * The container has no media codecs, so the DECODE step is a
  * clearly-marked deterministic stub (md5-derived bytes); everything
  * around it — binary schema, per-partition batched iteration,
  * feature-vector shape, metadata extraction — is the real Spark
  * plumbing and is tested.
  *
  * Scale: all per-row map work; m03 runs through a custom COLUMNAR
  * SparkPlan (graft.plans.FeatureDecode) that decodes whole
  * ColumnarBatches — how a GPU/codec batch-decode amortizes setup
  * cost, with no per-row encoder boxing, on a 1000-executor cluster.
  */
object Multimodal {

  /** The corpus with a synthesized binary payload column (UTF-8 bytes
    * of the text — stands in for image/audio bytes). */
  private def media(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        encode(col("text"), "UTF-8").as("payload"), col("n_chars"))

  // m01: typed metadata extraction from the binary column.
  def m01(s: SparkSession, d: String): DataFrame =
    media(s, d)
      .select(col("doc_id"), col("source"),
        length(col("payload")).as("byte_len"),
        md5(col("payload")).as("content_md5"),
        when(col("n_chars") % 3 === 0, "image/fake")
          .when(col("n_chars") % 3 === 1, "audio/fake")
          .otherwise("video/fake").as("media_type"))
      .orderBy("doc_id")

  val m01Sql: String =
    """SELECT doc_id, source, octet_length(encode(text)) AS byte_len,
      |  md5(text) AS content_md5,
      |  CASE WHEN n_chars % 3 = 0 THEN 'image/fake'
      |       WHEN n_chars % 3 = 1 THEN 'audio/fake'
      |       ELSE 'video/fake' END AS media_type
      |FROM documents ORDER BY doc_id""".stripMargin

  // m02: deterministic frame sampling — fixed-stride byte windows of
  // the payload ("frames"), fingerprinted. Explode stays bounded (≤4
  // frames/doc).
  def m02(s: SparkSession, d: String): DataFrame = {
    val frames = (0 until 4).map { k =>
      struct(lit(k).as("frame_idx"),
        md5(substring(col("payload"), k * 64 + 1, 16)).as("frame_md5"))
    }
    media(s, d)
      .select(col("doc_id"), col("n_chars"), explode(array(frames: _*)).as("f"))
      .filter(col("f.frame_idx") * 64 + 16 <= col("n_chars"))
      .select(col("doc_id"), col("f.frame_idx").as("frame_idx"),
        col("f.frame_md5").as("frame_md5"))
      .orderBy("doc_id", "frame_idx")
  }

  val m02Sql: String =
    """SELECT doc_id, k AS frame_idx, md5(substr(text, k * 64 + 1, 16)) AS frame_md5
      |FROM documents, (SELECT unnest(range(4)) AS k)
      |WHERE k * 64 + 16 <= n_chars
      |ORDER BY doc_id, frame_idx""".stripMargin

  // m03: batched decode→feature-vector stub through the COLUMNAR
  // custom operator (graft.plans.FeatureDecode): whole ColumnarBatches
  // in and out, no Row/Encoder round-trip — the plumbing a real
  // codec/GPU decode stage runs on. The stub being md5-derived makes
  // it fully oracle-checkable: DuckDB reproduces each feature from the
  // same digest bytes.
  def m03(s: SparkSession, d: String): DataFrame =
    graft.plans.FeatureDecode.decode(media(s, d).select("doc_id", "payload"))
      .orderBy("doc_id")

  // f_i = digest byte i / 255.0; both engines do the division in
  // IEEE-754 double, so the values are bit-identical.
  val m03Sql: String = {
    val feats = (0 until 8).map(i =>
      s"('0x' || substr(md5(text), ${2 * i + 1}, 2))::INT / CAST(255.0 AS DOUBLE) AS f$i")
    s"""SELECT doc_id, ${feats.mkString(",\n  ")}
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // m04: typed media-metadata struct + a "resize" transform. The
  // dimensions derive deterministically from the payload (stands in
  // for a decoded header); the transform halves them with floor-to-
  // even — the metadata algebra of an image-resize stage, with the
  // struct column round-tripping through parquet.
  def m04(s: SparkSession, d: String): DataFrame =
    media(s, d)
      .withColumn("meta", struct(
        (lit(16) + col("n_chars") % 64).cast("int").as("width"),
        (lit(16) + (col("n_chars") * 7) % 48).cast("int").as("height"),
        lit(3).as("channels")))
      .withColumn("resized", struct(
        (col("meta.width") - col("meta.width") % 2).cast("int")./(2).cast("int").as("width"),
        (col("meta.height") - col("meta.height") % 2).cast("int")./(2).cast("int").as("height"),
        col("meta.channels").as("channels")))
      .select(col("doc_id"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        col("resized.width").as("rw"), col("resized.height").as("rh"),
        (col("meta.width") * col("meta.height") * col("meta.channels"))
          .cast("long").as("n_pixels"))
      .orderBy("doc_id")

  val m04Sql: String =
    """SELECT doc_id,
      |  CAST(16 + n_chars % 64 AS INT) AS width,
      |  CAST(16 + (n_chars * 7) % 48 AS INT) AS height,
      |  CAST((CAST(16 + n_chars % 64 AS INT) -
      |        CAST(16 + n_chars % 64 AS INT) % 2) / 2 AS INT) AS rw,
      |  CAST((CAST(16 + (n_chars * 7) % 48 AS INT) -
      |        CAST(16 + (n_chars * 7) % 48 AS INT) % 2) / 2 AS INT) AS rh,
      |  CAST(CAST(16 + n_chars % 64 AS INT) *
      |       CAST(16 + (n_chars * 7) % 48 AS INT) * 3 AS BIGINT) AS n_pixels
      |FROM documents ORDER BY doc_id""".stripMargin

  // m05: byte-level header parsing — read typed fields straight out of
  // the binary payload (two big-endian uint32 words from bytes 0–7,
  // the shape of every real container header: RIFF sizes, PNG IHDR
  // dims, WAV rates). Pure per-row scan work, no shuffle; Spark reads
  // only the 8 header bytes per row (substring on binary before hex).
  // Payloads shorter than 8 bytes parse to null and are filtered —
  // the malformed-blob discipline a real decoder needs.
  def m05(s: SparkSession, d: String): DataFrame =
    media(s, d)
      .filter(length(col("payload")) >= 8)
      .select(col("doc_id"),
        conv(hex(substring(col("payload"), 1, 4)), 16, 10)
          .cast("long").as("word0"),
        conv(hex(substring(col("payload"), 5, 4)), 16, 10)
          .cast("long").as("word1"))
      .withColumn("fake_width", (col("word0") % 4096).cast("int"))
      .withColumn("fake_rate", (col("word1") % 48000).cast("int"))
      .orderBy("doc_id")

  val m05Sql: String =
    """SELECT doc_id,
      |  ('0x' || substr(hex(encode(text)), 1, 8))::BIGINT AS word0,
      |  ('0x' || substr(hex(encode(text)), 9, 8))::BIGINT AS word1,
      |  CAST(('0x' || substr(hex(encode(text)), 1, 8))::BIGINT % 4096 AS INT)
      |    AS fake_width,
      |  CAST(('0x' || substr(hex(encode(text)), 9, 8))::BIGINT % 48000 AS INT)
      |    AS fake_rate
      |FROM documents WHERE octet_length(encode(text)) >= 8
      |ORDER BY doc_id""".stripMargin

  // m06: CHUNKED-BLOB REASSEMBLY — large media lands as multipart
  // chunks (the S3 multipart / chunked-upload shape); the ingest op
  // reassembles per-blob with ONE shuffle on the blob key and proves
  // integrity. Chunks here are 64-byte binary slices exploded with
  // their index; reassembly is array_sort on (idx, chunk) structs +
  // in-row concat; the md5 of the reassembly must equal the md5 of
  // the original payload — per blob, as a gated boolean, next to the
  // chunk count the oracle derives from the byte length.
  def m06(s: SparkSession, d: String): DataFrame = {
    // empty payloads are excluded on BOTH sides (a 0-chunk blob has
    // nothing to reassemble, and Spark's sequence(0, -1) would count
    // down); no static chunk cap — truncating a large blob would
    // silently flip the integrity boolean against the oracle's `true`
    val m = media(s, d).filter(col("doc_id") < 300)
      .select(col("doc_id"), col("payload"), length(col("payload")).as("blen"))
      .filter(col("blen") > 0)
    // the generator composes with the carried columns in ONE select —
    // payload stays in scope, no join back to recover it
    val chunks = m.select(col("doc_id"), col("blen"),
        md5(col("payload")).as("orig_md5"), col("payload"),
        posexplode(sequence(lit(0), expr("(blen + 63) div 64").cast("int") - 1)))
      .select(col("doc_id"), col("blen"), col("orig_md5"), col("col").as("idx"),
        expr("substring(payload, col * 64 + 1, 64)").as("chunk"))
    chunks.groupBy("doc_id", "blen", "orig_md5")
      .agg(count(lit(1)).cast("long").as("n_chunks"),
        md5(aggregate(
          array_sort(collect_list(struct(col("idx"), col("chunk")))),
          lit(Array.emptyByteArray),
          (acc, x) => concat(acc, x.getField("chunk")))).as("re_md5"))
      .select(col("doc_id"), col("n_chunks"),
        (col("re_md5") === col("orig_md5")).as("reassembled_ok"))
      .orderBy("doc_id")
  }

  val m06Sql: String =
    """SELECT doc_id,
      |  CAST((octet_length(encode(text)) + 63) // 64 AS BIGINT) AS n_chunks,
      |  true AS reassembled_ok
      |FROM documents WHERE doc_id < 300 AND octet_length(encode(text)) > 0
      |ORDER BY doc_id""".stripMargin

  // m07: MULTIMODAL RETRIEVAL — the composition the whole multimodal
  // stack exists for at training-data scale: decode media to feature
  // vectors (m03's custom columnar SparkPlan, stub-deterministic) and
  // serve nearest-neighbor queries over them (s01's bounded-probe ×
  // one-corpus-scan shape, native fused cosine kernel). Nothing new
  // is invented here and that is the point — the decode plan and the
  // ANN plan compose as ordinary DataFrames, so the 100 TB properties
  // of each piece (whole-batch columnar decode, broadcast probes, no
  // all-pairs) carry through unchanged.
  def m07(s: SparkSession, d: String): DataFrame = {
    val feats = graft.plans.FeatureDecode.decode(
      media(s, d).select("doc_id", "payload"))
    val v = array((0 until 8).map(i => col(s"f$i")): _*)
    val e = feats.select(col("doc_id"), v.as("v"))
    val probe = e.filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), col("v").as("va"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("nn_id"))
    broadcast(probe)
      .join(e.select(col("doc_id").as("nn_id"), col("v").as("vb")))
      .filter(col("query_id") =!= col("nn_id"))
      .withColumn("cos",
        round(graft.functions.VectorOps.cosineSim(col("va"), col("vb")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("query_id", "rank", "nn_id", "cos")
      .orderBy("query_id", "rank")
  }

  val m07Sql: String = {
    val fList = (0 until 8).map(i =>
      s"('0x' || substr(md5(text), ${2 * i + 1}, 2))::INT / CAST(255.0 AS DOUBLE)")
      .mkString("[", ",\n     ", "]")
    val dot = "list_sum(list_transform(range(8), i -> a.v[i + 1] * b.v[i + 1]))"
    def nrm(side: String) =
      s"sqrt(list_sum(list_transform($side.v, x -> x * x)))"
    s"""WITH f AS (SELECT doc_id, $fList AS v FROM documents)
       |SELECT query_id, rank, nn_id, cos FROM (
       |  SELECT a.doc_id AS query_id, b.doc_id AS nn_id,
       |    round($dot / (${nrm("a")} * ${nrm("b")}), 4) AS cos,
       |    row_number() OVER (
       |      PARTITION BY a.doc_id
       |      ORDER BY round($dot / (${nrm("a")} * ${nrm("b")}), 4) DESC,
       |               b.doc_id) AS rank
       |  FROM f a JOIN f b ON a.doc_id <> b.doc_id
       |  WHERE a.doc_id < 10)
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  // ------------------------------------------------------------------
  // m08: A/V SYNC alignment — for every video frame, the latest audio
  // chunk decoded at-or-before its presentation timestamp: the
  // align-modalities step of any audio/video ingest (captioning,
  // lip-sync features, AV training pairs). Frame/chunk timelines
  // derive deterministically from the blob metadata (30fps-ish video
  // pts vs ~47ms audio hops with per-blob phase offsets, so early
  // frames genuinely precede the first audio chunk — the unsynced
  // branch is real). The alignment is the custom AsOfJoinExec
  // (plans/AsOf — the same operator the relational q26/q43/q48 family
  // gates), keyed by blob, tie-broken on chunk index; per blob the
  // frame/synced counts and the exact integer lag sum.
  // Scale: both timelines explode bounded (≤7 rows/blob); the as-of
  // join shuffles once on the blob key — media timelines co-locate by
  // blob, never globally sorted.
  def m08(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).filter(col("doc_id") < 60)
      .select("doc_id", "n_chars")
    val v = base
      .select(col("doc_id"), explode(sequence(lit(0), (col("n_chars") % 5 + 2).cast("int"))).as("k"))
      .select(col("doc_id"), col("k"),
        (col("k").cast("long") * 33366 + (col("doc_id") % 7) * 11).as("v_pts"))
    val a = base
      .select(col("doc_id").as("a_doc"), explode(sequence(lit(0), (col("n_chars") % 7 + 1).cast("int"))).as("j"))
      .select(col("a_doc"), col("j").cast("long").as("a_idx"),
        (col("j").cast("long") * 21333 + (col("a_doc") % 5) * 13).as("a_pts"))
    val synced = graft.plans.AsOf.join(v, a, "doc_id", "a_doc", "v_pts", "a_pts",
        rightTiebreak = Some("a_idx"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_synced"),
        sum(col("v_pts") - col("a_pts")).as("lag_sum_us"))
    v.groupBy("doc_id").agg(count(lit(1)).as("n_frames"))
      .join(synced, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_frames"),
        coalesce(col("n_synced"), lit(0L)).as("n_synced"),
        coalesce(col("lag_sum_us"), lit(0L)).as("lag_sum_us"))
      .orderBy("doc_id")
  }

  val m08Sql: String =
    """WITH base AS (SELECT doc_id, n_chars FROM documents WHERE doc_id < 60),
      |v AS (SELECT doc_id, unnest(range(0, n_chars % 5 + 3)) AS k FROM base),
      |vf AS (SELECT doc_id, k, k*33366 + (doc_id % 7)*11 AS v_pts FROM v),
      |a AS (SELECT doc_id AS a_doc, unnest(range(0, n_chars % 7 + 2)) AS j FROM base),
      |ac AS (SELECT a_doc, j, j*21333 + (a_doc % 5)*13 AS a_pts FROM a),
      |pairs AS (
      |  SELECT vf.doc_id, vf.v_pts, ac.a_pts,
      |    row_number() OVER (PARTITION BY vf.doc_id, vf.k
      |                       ORDER BY ac.a_pts DESC, ac.j DESC) AS rn
      |  FROM vf JOIN ac ON vf.doc_id = ac.a_doc AND ac.a_pts <= vf.v_pts),
      |sy AS (
      |  SELECT doc_id, count(*) AS n_synced,
      |    sum(v_pts - a_pts)::BIGINT AS lag_sum_us
      |  FROM pairs WHERE rn = 1 GROUP BY 1),
      |nf AS (SELECT doc_id, count(*) AS n_frames FROM vf GROUP BY 1)
      |SELECT nf.doc_id, nf.n_frames,
      |  coalesce(sy.n_synced, 0) AS n_synced,
      |  coalesce(sy.lag_sum_us, 0) AS lag_sum_us
      |FROM nf LEFT JOIN sy ON nf.doc_id = sy.doc_id
      |ORDER BY nf.doc_id""".stripMargin

  // ------------------------------------------------------------------
  // m09: MULTIMODAL TOKEN BUDGET accounting — a mixed-modality
  // training mix is costed in model tokens, and image/video items
  // contribute VISION tokens (ViT patches: ⌈w/16⌉·⌈h/16⌉ per frame,
  // frames from the m02 sampling rule) while text contributes its
  // tokenizer count. Per (source, media_type): item count, text
  // tokens, media tokens, and the combined budget — the table a p04
  // mixer consumes when the corpus stops being text-only. All
  // integer arithmetic off m01's modality rule and m04's header-
  // derived dimensions (cited formulas inline, cross-engine exact).
  // Scale: pure per-row math + one keyed agg, map-side partials.
  def m09(s: SparkSession, d: String): DataFrame = {
    val toks = graft.functions.TextNorm.tokens(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
        size(toks).cast("long").as("text_tokens"),
        // m01's modality rule
        when(col("n_chars") % 3 === 0, "image/fake")
          .when(col("n_chars") % 3 === 1, "audio/fake")
          .otherwise("video/fake").as("media_type"),
        // m04's header-derived dimensions
        (lit(16) + col("n_chars") % 64).cast("long").as("w"),
        (lit(16) + (col("n_chars") * 7) % 48).cast("long").as("h"),
        // m02's frame census: frames k with k*64+16 <= n_chars, k<4
        least(lit(4), greatest(lit(0),
          expr("(n_chars - 16) div 64") + 1)).cast("long").as("n_frames"))
      .withColumn("patches",
        expr("((w + 15) div 16) * ((h + 15) div 16)"))
      .withColumn("media_tokens",
        when(col("media_type") === "image/fake", col("patches"))
          .when(col("media_type") === "video/fake",
            col("patches") * col("n_frames"))
          // audio: ~1 token per 4 chars of payload (frame-rate proxy)
          .otherwise(expr("n_chars div 4")))
      .groupBy("source", "media_type")
      .agg(count(lit(1)).as("n_items"),
        sum(col("text_tokens")).as("text_tokens"),
        sum(col("media_tokens")).as("media_tokens"),
        sum(col("text_tokens") + col("media_tokens")).as("total_tokens"))
      .orderBy("source", "media_type")
  }

  val m09Sql: String = {
    val toks = "regexp_extract_all(nfc_normalize(text), '[\\p{L}\\p{N}]+')"
    s"""WITH base AS (
       |  SELECT source, n_chars,
       |    len($toks)::BIGINT AS text_tokens,
       |    CASE WHEN n_chars % 3 = 0 THEN 'image/fake'
       |         WHEN n_chars % 3 = 1 THEN 'audio/fake'
       |         ELSE 'video/fake' END AS media_type,
       |    (16 + n_chars % 64)::BIGINT AS w,
       |    (16 + (n_chars * 7) % 48)::BIGINT AS h,
       |    least(4, greatest(0, (n_chars - 16) // 64 + 1))::BIGINT AS n_frames
       |  FROM documents),
       |costed AS (
       |  SELECT source, media_type, text_tokens,
       |    CASE media_type
       |      WHEN 'image/fake' THEN ((w + 15) // 16) * ((h + 15) // 16)
       |      WHEN 'video/fake' THEN ((w + 15) // 16) * ((h + 15) // 16) * n_frames
       |      ELSE n_chars // 4 END AS media_tokens
       |  FROM base)
       |SELECT source, media_type, count(*) AS n_items,
       |  sum(text_tokens)::BIGINT AS text_tokens,
       |  sum(media_tokens)::BIGINT AS media_tokens,
       |  sum(text_tokens + media_tokens)::BIGINT AS total_tokens
       |FROM costed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // m10: PERCEPTUAL-HASH media dedup — content-addressed (whole-file
  // md5) dedup misses re-encoded copies of the same media: identical
  // pixels, different container bytes (new EXIF, different mux). The
  // perceptual pipeline hashes the DECODED content instead: decode →
  // canonical frame → fingerprint → bucket-group. Decode is the
  // repo's deterministic stub (the canonical "frame" = the payload's
  // first 64 bytes; a real pipeline puts pHash/aHash of decoded
  // pixels here — same plumbing, swapped kernel). Planted re-encodes
  // (every 37th doc re-ingested with trailing metadata bytes) have
  // DIFFERENT file hashes but the SAME frame hash, so the gate pins
  // exactly the property that makes perceptual dedup worth running:
  // n_files > 1 inside one phash bucket.
  // Scale: fingerprinting is map-side; the only shuffle is the
  // groupBy on the (uniform) 128-bit frame hash — d01's shape; no
  // pairwise comparisons anywhere.
  def m10(s: SparkSession, d: String): DataFrame = {
    val base = media(s, d).select(col("doc_id"), col("payload"))
    val planted = base.filter(col("doc_id") % 37 === 0)
      .select((col("doc_id") + 2000000).as("doc_id"),
        concat(col("payload"),
          encode(lit(" [exif:reencoded-2026]"), "UTF-8")).as("payload"))
    base.union(planted)
      .select(col("doc_id"),
        md5(substring(col("payload"), 1, 64)).as("phash"),
        md5(col("payload")).as("file_md5"))
      .groupBy("phash")
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("file_md5")).as("n_files"),
        min(col("doc_id")).as("canonical_id"),
        sum(col("doc_id")).as("ids_sum"))
      .filter(col("n_copies") > 1)
      .orderBy("phash")
  }

  val m10Sql: String =
    """WITH m AS (
      |  SELECT doc_id, md5(substr(text, 1, 64)) AS phash,
      |    md5(text) AS file_md5
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000,
      |    md5(substr(text || ' [exif:reencoded-2026]', 1, 64)),
      |    md5(text || ' [exif:reencoded-2026]')
      |  FROM documents WHERE doc_id % 37 = 0)
      |SELECT phash, count(*) AS n_copies,
      |  count(DISTINCT file_md5) AS n_files,
      |  min(doc_id) AS canonical_id, sum(doc_id)::BIGINT AS ids_sum
      |FROM m GROUP BY 1 HAVING count(*) > 1 ORDER BY phash""".stripMargin

  // m11: SEQUENCE-PACKING audit — LLM training concatenates documents
  // in (shuffled) order and cuts the token stream into fixed-length
  // training sequences; every cut that lands mid-document bleeds
  // attention across unrelated text. This op computes, per packing
  // stream, the per-sequence composition: how many documents START in
  // each 512-token sequence, their token mass, and how many run past
  // the cut (the contamination count a packing-aware loader masks).
  // Pack order is the content-hash permutation (p05's shuffle
  // discipline — reproducible, no RNG); the stream is packed PER
  // SOURCE, which is both how heterogeneous corpora are actually
  // packed (domain-pure streams) and what makes the window scale: one
  // keyed partition per source, never a global sort.
  // All integer math — cum/start/seq boundaries are exact in both
  // engines.
  def m11(s: SparkSession, d: String): DataFrame = {
    val seqLen = 512L
    val w = Window.partitionBy("source")
      .orderBy(col("hkey"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(graft.functions.TextNorm.tokens(col("text"))).cast("long")
          .as("n_tok"))
      .filter(col("n_tok") >= 1)
      .withColumn("hkey", graft.functions.Hashing.hash56(
        concat_ws("#", lit("pack"), col("doc_id"))))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("seq_id", expr(s"(cum - n_tok) div $seqLen"))
      .withColumn("straddles",
        expr(s"(cum - 1) div $seqLen") > col("seq_id"))
      .groupBy("source", "seq_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("tokens_started"),
        count(when(col("straddles"), lit(1))).as("n_straddle"))
      .orderBy("source", "seq_id")
  }

  val m11Sql: String = {
    val toks = graft.functions.TextNorm.sqlTokens("text")
    s"""WITH docs AS (
       |  SELECT doc_id, source, len($toks)::BIGINT AS n_tok,
       |    ${graft.functions.Hashing.sqlHash56("'pack#' || doc_id")} AS hkey
       |  FROM documents),
       |packed AS (
       |  SELECT source, n_tok,
       |    sum(n_tok) OVER (PARTITION BY source ORDER BY hkey, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum
       |  FROM docs WHERE n_tok >= 1)
       |SELECT source, (cum - n_tok) // 512 AS seq_id,
       |  count(*) AS n_docs, sum(n_tok)::BIGINT AS tokens_started,
       |  count(CASE WHEN (cum - 1) // 512 > (cum - n_tok) // 512
       |    THEN 1 END) AS n_straddle
       |FROM packed GROUP BY 1, 2 ORDER BY source, seq_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // m12: MODALITY ROUTER — the ingest front door of a mixed-media
  // lake: blobs arrive untyped, the router sniffs MAGIC BYTES (the
  // first uint32 word — how file(1)/tika decide, never trusting
  // extensions), routes each detected modality through its own parse
  // (m05's big-endian word reads: sample-rate-ish for RIFF, dims-ish
  // for PNG, fps-ish for FTYP) and QUARANTINES what it cannot
  // identify instead of crashing the pipeline on it. Containers are
  // synthesized deterministically (doc_id%4 picks a 4-byte magic
  // prepended to the payload; %4==3 gets none → unknown), but
  // DETECTION runs on the constructed blob bytes in both engines —
  // the oracle sniffs the same magic from the same hex, never peeks
  // at doc_id — so a router bug (wrong magic constant, off-by-one
  // substring) flips the hash. Pure map-side classify + one keyed
  // 4-row rollup; at 100 TB this is the binaryFile scan plus free
  // per-row work (i08's source feeds it).
  private val MAGIC_RIFF = 0x52494646L // "RIFF"
  private val MAGIC_PNG = 0x504e4758L  // "PNGX"
  private val MAGIC_FTYP = 0x46545950L // "FTYP"

  def m12(s: SparkSession, d: String): DataFrame = {
    val blob = concat(
      when(col("doc_id") % 4 === 0, encode(lit("RIFF"), "UTF-8"))
        .when(col("doc_id") % 4 === 1, encode(lit("PNGX"), "UTF-8"))
        .when(col("doc_id") % 4 === 2, encode(lit("FTYP"), "UTF-8"))
        .otherwise(encode(lit(""), "UTF-8")),
      col("payload"))
    media(s, d)
      .select(col("doc_id"), blob.as("blob"))
      .select(col("doc_id"), length(col("blob")).as("blen"),
        conv(hex(substring(col("blob"), 1, 4)), 16, 10).cast("long").as("magic"),
        conv(hex(substring(col("blob"), 5, 4)), 16, 10).cast("long").as("word1"))
      .select(col("doc_id"), col("blen"),
        when(col("magic") === MAGIC_RIFF, lit("audio"))
          .when(col("magic") === MAGIC_PNG, lit("image"))
          .when(col("magic") === MAGIC_FTYP, lit("video"))
          .otherwise(lit("unknown")).as("detected_type"),
        col("word1"))
      .groupBy("detected_type")
      .agg(count(lit(1)).as("n_blobs"),
        sum(col("blen")).cast("long").as("total_bytes"),
        sum(when(col("detected_type") === "audio", col("word1") % 48000)
          .when(col("detected_type") === "image", col("word1") % 4096)
          .when(col("detected_type") === "video", col("word1") % 60)
          .otherwise(lit(0L))).cast("long").as("meta_sum"))
      .orderBy("detected_type")
  }

  val m12Sql: String =
    s"""WITH blob AS (
       |  SELECT doc_id,
       |    hex(encode(CASE
       |      WHEN doc_id % 4 = 0 THEN 'RIFF' || text
       |      WHEN doc_id % 4 = 1 THEN 'PNGX' || text
       |      WHEN doc_id % 4 = 2 THEN 'FTYP' || text
       |      ELSE text END)) AS bh,
       |    octet_length(encode(CASE
       |      WHEN doc_id % 4 = 0 THEN 'RIFF' || text
       |      WHEN doc_id % 4 = 1 THEN 'PNGX' || text
       |      WHEN doc_id % 4 = 2 THEN 'FTYP' || text
       |      ELSE text END)) AS blen
       |  FROM documents),
       |sniffed AS (
       |  SELECT doc_id, blen,
       |    ('0x' || substr(bh, 1, 8))::BIGINT AS magic,
       |    ('0x' || substr(bh, 9, 8))::BIGINT AS word1
       |  FROM blob),
       |typed AS (
       |  SELECT doc_id, blen, word1,
       |    CASE magic
       |      WHEN $MAGIC_RIFF THEN 'audio'
       |      WHEN $MAGIC_PNG THEN 'image'
       |      WHEN $MAGIC_FTYP THEN 'video'
       |      ELSE 'unknown' END AS detected_type
       |  FROM sniffed)
       |SELECT detected_type, count(*) AS n_blobs,
       |  CAST(sum(blen) AS BIGINT) AS total_bytes,
       |  CAST(sum(CASE detected_type
       |    WHEN 'audio' THEN word1 % 48000
       |    WHEN 'image' THEN word1 % 4096
       |    WHEN 'video' THEN word1 % 60
       |    ELSE 0 END) AS BIGINT) AS meta_sum
       |FROM typed GROUP BY 1 ORDER BY detected_type""".stripMargin

  // ------------------------------------------------------------------
  // m13: IMAGE-TEXT PAIR construction (the LAION-style contrastive
  // pretraining dataset builder — the terminal op of a multimodal
  // curation pipeline): each media blob pairs with its caption (the
  // doc's first 12 tokens — the alt-text stand-in), then the LAION
  // filter stack: caption quality (≥ 5 tokens, declared-en) and
  // PAIR-level dedup — the key is (decoded-frame hash, caption fp),
  // so a re-encoded copy of the same image with the same caption
  // (planted: every 37th doc re-emitted with transcode tail bytes —
  // m10's discipline; same first-64-byte frame, different file
  // bytes) collapses to one training pair even though file-level
  // hashing would keep both. Per source: raw pairs, quality
  // survivors, unique pairs, and a checksum pinning the exact kept
  // pair SET. All map-side until one (frame, caption)-keyed window +
  // one source rollup.
  def m13(s: SparkSession, d: String): DataFrame = {
    val toks = graft.functions.TextNorm.tokens(col("text"))
    val base = Tables.documents(s, d).select("doc_id", "source", "lang", "text")
    val aug = base.union(base.filter(col("doc_id") % 37 === 0)
      .select((col("doc_id") + 7000000).as("doc_id"), col("source"), col("lang"),
        concat(col("text"), lit(" [transcode-tail]")).as("text")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("frame", "cap_fp")
    val pairs = aug
      .withColumn("frame", md5(substring(col("text"), 1, 64)))
      .withColumn("caption", concat_ws(" ", slice(toks, 1, 12)))
      .withColumn("cap_fp", md5(col("caption")))
      .withColumn("quality",
        size(toks) >= 5 && col("lang") === "en")
    val unique = pairs.filter(col("quality"))
      .withColumn("keep", col("doc_id") === min(col("doc_id")).over(w))
    pairs.groupBy("source")
      .agg(count(lit(1)).as("n_raw_pairs"),
        count(when(col("quality"), lit(1))).as("n_quality_pairs"))
      .join(unique.filter(col("keep")).groupBy("source")
          .agg(count(lit(1)).as("n_unique_pairs"),
            sum(graft.functions.Hashing.hash56(
              concat(lit("m13#"), col("frame"), col("cap_fp")))
              .cast("decimal(38,0)")).cast("string").as("pair_checksum")),
        Seq("source"), "left")
      .na.fill(0L, Seq("n_unique_pairs"))
      .orderBy("source")
  }

  val m13Sql: String =
    """WITH base AS (
      |  SELECT doc_id, source, lang, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 7000000, source, lang, text || ' [transcode-tail]'
      |  FROM documents WHERE doc_id % 37 = 0),
      |pairs AS (
      |  SELECT doc_id, source,
      |    md5(substr(text, 1, 64)) AS frame,
      |    md5(array_to_string(
      |      regexp_extract_all(nfc_normalize(text), '[\p{L}\p{N}]+')[1:12], ' '))
      |      AS cap_fp,
      |    len(regexp_extract_all(nfc_normalize(text), '[\p{L}\p{N}]+')) >= 5
      |      AND lang = 'en' AS quality
      |  FROM base),
      |uniq AS (
      |  SELECT source, frame, cap_fp FROM (
      |    SELECT source, frame, cap_fp, doc_id,
      |      min(doc_id) OVER (PARTITION BY frame, cap_fp) AS k
      |    FROM pairs WHERE quality)
      |  WHERE doc_id = k),
      |counts AS (
      |  SELECT source, count(*) AS n_raw_pairs,
      |    count(CASE WHEN quality THEN 1 END) AS n_quality_pairs
      |  FROM pairs GROUP BY 1),
      |uc AS (
      |  SELECT source, count(*) AS n_unique_pairs,
      |    sum(""".stripMargin +
      graft.functions.Hashing.sqlHash56("'m13#' || frame || cap_fp") +
      """)::DECIMAL(38,0)::VARCHAR AS pair_checksum
      |  FROM uniq GROUP BY 1)
      |SELECT source, n_raw_pairs, n_quality_pairs,
      |  coalesce(n_unique_pairs, 0) AS n_unique_pairs, pair_checksum
      |FROM counts LEFT JOIN uc USING (source)
      |ORDER BY source""".stripMargin

  // m14: ASPECT-RATIO BUCKETING (the SDXL/NovelAI training trick —
  // batching images of wildly different shapes into one fixed
  // resolution either crops or wastes pixels; bucketing groups them
  // into a few canonical aspect classes first, and every diffusion /
  // VLM data pipeline runs this step before batch assembly). Dims
  // come from m04's deterministic header stand-in; classification is
  // EXACT integer cross-multiplication against the ¾ / 1 / 4⁄3
  // aspect breakpoints (never a float ratio): tall (4w<3h), portrait
  // (w<h), landscape (3w<4h), wide (rest) — a total, mutually
  // exclusive rule ladder. Per bucket: volume, distinct dim count,
  // pixel mass, and the id-set checksum pinning EXACT membership
  // (the actual batching decision).
  // Scale: classification is map-side inside the metadata scan; one
  // 4-group keyed agg — no image bytes move, only header dims.
  def m14(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
        (lit(16) + col("n_chars") % 64).cast("long").as("w"),
        (lit(16) + (col("n_chars") * 7) % 48).cast("long").as("h"))
      .withColumn("bucket",
        when(lit(4L) * col("w") < lit(3L) * col("h"), "b0_tall")
          .when(col("w") < col("h"), "b1_portrait")
          .when(lit(3L) * col("w") < lit(4L) * col("h"), "b2_landscape")
          .otherwise("b3_wide"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_images"),
        countDistinct(col("w") * 100 + col("h")).as("n_dims"),
        sum(col("w") * col("h")).as("sum_pixels"),
        sum(graft.functions.Hashing.hash56(
            concat_ws("#", lit("ab"), col("doc_id")))
          .cast("decimal(38,0)")).cast("string").as("ids_checksum"))
      .orderBy("bucket")

  val m14Sql: String =
    s"""WITH dims AS (
       |  SELECT doc_id,
       |    (16 + n_chars % 64)::BIGINT AS w,
       |    (16 + (n_chars * 7) % 48)::BIGINT AS h
       |  FROM documents),
       |cls AS (
       |  SELECT doc_id, w, h,
       |    CASE WHEN 4 * w < 3 * h THEN 'b0_tall'
       |         WHEN w < h THEN 'b1_portrait'
       |         WHEN 3 * w < 4 * h THEN 'b2_landscape'
       |         ELSE 'b3_wide' END AS bucket
       |  FROM dims)
       |SELECT bucket, count(*) AS n_images,
       |  count(DISTINCT w * 100 + h) AS n_dims,
       |  sum(w * h)::BIGINT AS sum_pixels,
       |  sum(${graft.functions.Hashing.sqlHash56("'ab#' || doc_id")})
       |    ::DECIMAL(38,0)::VARCHAR AS ids_checksum
       |FROM cls GROUP BY 1 ORDER BY bucket""".stripMargin

  // m15: CROSS-MODAL RETRIEVAL EVAL (the CLIP-style image→text
  // benchmark — the metric a contrastive pairing model is trained
  // against, and the downstream check on m13's constructed pairs):
  // vectors pair up as (image 2k, text 2k+1); for a 50-query panel of
  // images, rank ALL texts by cosine and find the true caption's
  // rank. Reported: recall@1/5/10 (counts — the oracle derives the
  // same integers), EXACT median rank (q52's order-statistic
  // selection, never interpolation) and the exact rank sum. Ties
  // break (cos DESC, cand_id) — the engine-wide ladder; cosine is
  // the codegen'd fused kernel, 4dp-rounded BEFORE ranking in both
  // engines (the s01 discipline).
  // Scale: panel-bounded (50 queries) × one text-corpus scan — the
  // s01 rule; the rank window is keyed by query. The 50-row
  // order-statistic window is query-count-bounded, never corpus.
  def m15(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val img = e.filter(col("vec_id") % 2 === 0 && col("vec_id") < 100)
      .select(expr("vec_id div 2").as("pair_id"), col("v").as("va"))
    val txt = e.filter(col("vec_id") % 2 === 1)
      .select(expr("vec_id div 2").as("cand_id"), col("v").as("vb"))
    val w = Window.partitionBy("pair_id").orderBy(col("cos").desc, col("cand_id"))
    val hits = broadcast(img).join(txt)
      .withColumn("cos",
        round(graft.functions.VectorOps.cosineSim(col("va"), col("vb")), 4))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("cand_id") === col("pair_id"))
      .select(col("pair_id"), col("rank").as("true_rank"))
    hits
      .withColumn("pos", row_number().over(
        Window.orderBy(col("true_rank"), col("pair_id"))).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .agg(count(lit(1)).as("n_queries"),
        count(when(col("true_rank") <= 1, lit(1))).as("r_at_1"),
        count(when(col("true_rank") <= 5, lit(1))).as("r_at_5"),
        count(when(col("true_rank") <= 10, lit(1))).as("r_at_10"),
        max(when(col("pos") === expr("(n + 1) div 2"), col("true_rank")))
          .as("median_rank"),
        sum(col("true_rank")).as("rank_sum"))
  }

  val m15Sql: String = {
    val dot = "list_sum(list_transform(range(64), i -> q.va[i + 1] * t.vb[i + 1]))"
    def norm(alias: String, c: String) =
      s"sqrt(list_sum(list_transform($alias.$c, x -> x * x)))"
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |           FROM embeddings),
       |q AS (SELECT vec_id // 2 AS pair_id, v AS va FROM e
       |      WHERE vec_id % 2 = 0 AND vec_id < 100),
       |t AS (SELECT vec_id // 2 AS cand_id, v AS vb FROM e WHERE vec_id % 2 = 1),
       |ranked AS (
       |  SELECT q.pair_id, t.cand_id,
       |    row_number() OVER (
       |      PARTITION BY q.pair_id
       |      ORDER BY round($dot / (${norm("q", "va")} * ${norm("t", "vb")}), 4)
       |        DESC, t.cand_id)::BIGINT AS rank
       |  FROM q, t),
       |hits AS (
       |  SELECT pair_id, rank AS true_rank FROM ranked
       |  WHERE cand_id = pair_id),
       |pos AS (
       |  SELECT true_rank,
       |    row_number() OVER (ORDER BY true_rank, pair_id)::BIGINT AS pos,
       |    count(*) OVER ()::BIGINT AS n
       |  FROM hits)
       |SELECT count(*) AS n_queries,
       |  count(CASE WHEN true_rank <= 1 THEN 1 END) AS r_at_1,
       |  count(CASE WHEN true_rank <= 5 THEN 1 END) AS r_at_5,
       |  count(CASE WHEN true_rank <= 10 THEN 1 END) AS r_at_10,
       |  max(CASE WHEN pos = (n + 1) // 2 THEN true_rank END) AS median_rank,
       |  sum(true_rank)::BIGINT AS rank_sum
       |FROM pos""".stripMargin
  }

  // ------------------------------------------------------------------
  // m16: CONTENT-DEFINED CHUNKING storage dedup (the restic/borg/
  // LBFS-family algorithm — fixed-size chunks break on ANY insertion
  // because every later boundary shifts; CONTENT-defined boundaries
  // (cut where a rolling condition on the content itself fires) are
  // shift-immune: an insertion re-syncs at the next boundary, so a
  // 100 TB media lake full of near-re-uploads stores each unique
  // chunk once). Boundary rule here: a token ends a chunk iff
  // hash56('cdc#'‖token) % 8 == 0 (expected ~8-token chunks) — at
  // production byte granularity the same rule runs on a Rabin window
  // (t09's hash); the boundary/dedup/accounting plumbing is identical
  // and is what this op gates. The planted copies PREPEND a 4-token
  // head (+1M ids) — the adversarial case for fixed-size chunking,
  // where every boundary shifts by 4 and positional sharing
  // collapses; the gate carries BOTH schemes' measured sharing
  // (cdc_shared_ppm vs fixed_shared_ppm over the copies' distinct
  // chunk sets) so the shift-immunity claim is a number, not a
  // comment, plus cdc_ok (every copy shares all but ≤1 of its base's
  // distinct chunks — only the head-merged first chunk differs).
  // Scale: one posexplode + ONE doc-keyed window (the prefix-sum of
  // boundary flags), chunk assembly a (doc,chunk)-keyed agg, dedup
  // accounting keyed on the chunk hash — d01's banded shape.
  def m16(s: SparkSession, d: String): DataFrame = {
    import graft.functions.{Hashing, TextNorm}
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val aug = base.union(base.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(lit("graft cdc probe head "), col("text")).as("text")))
    val tokd = aug
      .select(col("doc_id"), posexplode(TextNorm.tokens(col("text")))
        .as(Seq("pos", "term")))
    val wPre = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    // both chunkings ride the SAME explode + window pass: cdc chunk_no
    // is the boundary-flag prefix sum, fixed chunk_no is pos div 8
    val numbered = tokd
      .withColumn("b",
        (Hashing.hash56(concat_ws("#", lit("cdc"), col("term"))) % 8 === 0)
          .cast("long"))
      .withColumn("cno", coalesce(sum(col("b")).over(wPre), lit(0L)))
      .withColumn("fno", expr("pos div 8"))
    def assemble(noCol: String): DataFrame = numbered
      .groupBy(col("doc_id"), col(noCol).as("chunk_no"))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("term")))),
        x => x("term"))).as("ctext"))
      .select(col("doc_id"), col("chunk_no"),
        Hashing.hash56(col("ctext")).as("ch"),
        length(encode(col("ctext"), "UTF-8")).cast("long").as("blen"))
    val chunksP = Pin.cut(assemble("cno"))
    val fixedP = Pin.cut(assemble("fno"))
    val tot = chunksP.agg(count(lit(1)).as("n_chunks"),
      sum(col("blen")).as("bytes_total"),
      count_distinct(col("ch")).as("n_distinct"))
    val stored = chunksP.groupBy("ch").agg(min(col("blen")).as("blen"))
      .agg(sum(col("blen")).as("bytes_stored"))
    val nDocs = aug.agg(count(lit(1)).as("n_docs"))
    // per-copy distinct-set sharing, per scheme: |copy ∩ base| vs |base|
    def sharing(chunks: DataFrame): DataFrame = {
      val cs = chunks.filter(col("doc_id") >= 1000000)
        .select((col("doc_id") - 1000000).as("bid"), col("ch")).distinct()
      val bs = chunks.filter(col("doc_id") < 1000000)
        .join(cs.select(col("bid")).distinct(), col("doc_id") === col("bid"))
        .select(col("bid"), col("ch")).distinct()
      val inter = cs.join(bs, Seq("bid", "ch"))
        .groupBy("bid").agg(count(lit(1)).as("inter"))
      bs.groupBy("bid").agg(count(lit(1)).as("n_base"))
        .join(inter, Seq("bid"), "left")
        .select(col("bid"), col("n_base"),
          coalesce(col("inter"), lit(0L)).as("inter"))
    }
    val cdcOk = sharing(chunksP)
      .agg(min((col("inter") >= col("n_base") - 1).cast("int")).as("okI"),
        count(lit(1)).as("n_copies"),
        sum(col("inter")).as("si"), sum(col("n_base")).as("sb"))
      .select((col("okI") === 1 && col("n_copies") > 0).as("cdc_ok"),
        expr("(1000000 * si) div sb").as("cdc_shared_ppm"))
    val fixedPpm = sharing(fixedP)
      .agg(sum(col("inter")).as("si"), sum(col("n_base")).as("sb"))
      .select(expr("(1000000 * si) div sb").as("fixed_shared_ppm"))
    nDocs.crossJoin(broadcast(tot)).crossJoin(broadcast(stored))
      .crossJoin(broadcast(cdcOk)).crossJoin(broadcast(fixedPpm))
      .select(col("n_docs"), col("n_chunks"), col("n_distinct"),
        expr("(1000000 * (n_chunks - n_distinct)) div n_chunks").as("dup_ppm"),
        col("bytes_total"), col("bytes_stored"),
        expr("(1000000 * (bytes_total - bytes_stored)) div bytes_total")
          .as("savings_ppm"),
        col("cdc_ok"), col("cdc_shared_ppm"), col("fixed_shared_ppm"),
        (col("cdc_shared_ppm") > col("fixed_shared_ppm")).as("shift_immune"))
  }

  val m16Sql: String = {
    val tok = "regexp_extract_all(nfc_normalize(text), '[\\p{L}\\p{N}]+')"
    val h = graft.functions.Hashing.sqlHash56("'cdc#' || term")
    val hc = graft.functions.Hashing.sqlHash56("ctext")
    def sharePpm(rel: String): String =
      s"""SELECT ((1000000 * sum(inter)) // sum(n_base))::BIGINT AS ppm FROM (
         |    SELECT b.bid, count(*) AS n_base,
         |      (SELECT count(*) FROM
         |        (SELECT DISTINCT ch FROM $rel c
         |         WHERE c.doc_id = b.bid + 1000000) cc
         |       WHERE cc.ch IN (SELECT ch FROM $rel x
         |         WHERE x.doc_id = b.bid)) AS inter
         |    FROM (SELECT DISTINCT doc_id AS bid, ch FROM $rel
         |          WHERE doc_id < 1000000
         |            AND doc_id % 50 = 0) b
         |    GROUP BY b.bid)""".stripMargin
    s"""WITH aug AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 1000000, 'graft cdc probe head ' || text
       |    FROM documents WHERE doc_id % 50 = 0),
       |tokd AS (
       |  SELECT doc_id, unnest(toks) AS term,
       |    generate_subscripts(toks, 1) AS pos
       |  FROM (SELECT doc_id, $tok AS toks FROM aug)),
       |numbered AS (
       |  SELECT doc_id, term, pos,
       |    coalesce(sum(CASE WHEN ($h) % 8 = 0 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cno,
       |    (pos - 1) // 8 AS fno
       |  FROM tokd),
       |chunks AS (
       |  SELECT doc_id, cno AS chunk_no, $hc AS ch,
       |    octet_length(encode(ctext)) AS blen
       |  FROM (
       |    SELECT doc_id, cno, string_agg(term, ' ' ORDER BY pos) AS ctext
       |    FROM numbered GROUP BY 1, 2)),
       |fixedc AS (
       |  SELECT doc_id, fno AS chunk_no, $hc AS ch
       |  FROM (
       |    SELECT doc_id, fno, string_agg(term, ' ' ORDER BY pos) AS ctext
       |    FROM numbered GROUP BY 1, 2)),
       |tot AS (
       |  SELECT count(*) AS n_chunks, sum(blen)::BIGINT AS bytes_total,
       |    count(DISTINCT ch) AS n_distinct
       |  FROM chunks),
       |stored AS (
       |  SELECT sum(blen)::BIGINT AS bytes_stored FROM (
       |    SELECT ch, min(blen) AS blen FROM chunks GROUP BY 1)),
       |nd AS (SELECT count(*) AS n_docs FROM aug),
       |cs AS (${sharePpm("chunks")}),
       |fs AS (${sharePpm("fixedc")})
       |SELECT n_docs, n_chunks, n_distinct,
       |  (1000000 * (n_chunks - n_distinct)) // n_chunks AS dup_ppm,
       |  bytes_total, bytes_stored,
       |  (1000000 * (bytes_total - bytes_stored)) // bytes_total
       |    AS savings_ppm,
       |  TRUE AS cdc_ok, cs.ppm AS cdc_shared_ppm, fs.ppm AS fixed_shared_ppm,
       |  TRUE AS shift_immune
       |FROM nd, tot, stored, cs, fs""".stripMargin
  }

  // m17: SHOT-BOUNDARY DETECTION — temporal segmentation of a media
  // stream by frame-difference (the scene-cut pass every video
  // curation pipeline runs before captioning/sampling: m02 samples
  // frames blindly, this finds WHERE the content changes so sampling
  // can be per-shot). The decode stub stands in as usual: 8
  // fixed-stride 64-byte "frames" per blob, per-frame signature = a
  // 4-bin content histogram (vowel/digit/space/consonant counts — the
  // color-histogram stand-in), cut where consecutive frames' L1
  // histogram distance exceeds 8 (calibrated: corpus median distance
  // 4, p90 6, max 16 — cuts are the real tail, not noise-everywhere).
  // Per blob: cut count, shot count, longest shot, and the exact cut
  // POSITIONS as a bitmask so the gate pins where every boundary
  // fell. Scale: the entire op is MAP-SIDE — all 8 signatures and the
  // 7 pairwise distances fold inside each row (aggregate over the
  // transition array; no explode, no window, zero shuffles) — the
  // shape that lets a 100 TB video lake run shot detection as a pure
  // scan.
  def m17(s: SparkSession, d: String): DataFrame = {
    // class-member COUNT via translate, not regexp_replace (round 13,
    // guide §1.2 per-task work): only the length is used, and
    // length(w) - length(translate(w, members, '')) counts the same
    // members with a single char-map pass — no regex engine, no
    // Matcher allocation. m17 runs 32 of these per row (8 windows x 4
    // classes); the regexp formulation burned ~3 s at sf0.1 in 1-2
    // scan tasks. The ORACLE keeps its regexp spelling — both count
    // the same ASCII class members, so the gate pins the equivalence.
    def cnt(w: Column, members: String): Column =
      length(w) - length(translate(w, members, ""))
    val stride = greatest(lit(1), expr("(n_chars - 64) div 7"))
    val sigs = transform(sequence(lit(0), lit(7)), k => {
      val w = substr(lower(col("text")),
        (k * stride + 1).cast("int"), lit(64))
      struct(cnt(w, "aeiou").as("v"), cnt(w, "0123456789").as("dg"),
        cnt(w, " ").as("sp"), cnt(w, "bcdfghjklmnpqrstvwxyz").as("cs"))
    })
    val dist = (a: Column, b: Column) =>
      abs(a("v") - b("v")) + abs(a("dg") - b("dg")) +
        abs(a("sp") - b("sp")) + abs(a("cs") - b("cs"))
    Tables.documents(s, d).filter(col("n_chars") >= 128)
      .select(col("doc_id"), col("text"), col("n_chars"))
      .withColumn("sg", sigs)
      .withColumn("cuts", transform(sequence(lit(0), lit(6)),
        i => (dist(element_at(col("sg"), i + 1),
          element_at(col("sg"), i + 2)) > 8).cast("int")))
      .select(col("doc_id"),
        aggregate(col("cuts"), lit(0), (acc, x) => acc + x).as("n_cuts"),
        (aggregate(col("cuts"), lit(0), (acc, x) => acc + x) + 1).as("n_shots"),
        // longest run of cut-free transitions + 1 = longest shot, as a
        // single in-row fold: acc = (current run, best run) over frames
        (aggregate(col("cuts"),
          struct(lit(1).as("cur"), lit(1).as("best")),
          (acc, x) => {
            val cur2 = when(x === 1, lit(1)).otherwise(acc("cur") + 1)
            struct(cur2.as("cur"), greatest(acc("best"), cur2).as("best"))
          })("best")).as("longest_shot"),
        expr("aggregate(zip_with(cuts, sequence(0, 6), " +
          "(c, i) -> CAST(c AS BIGINT) * CAST(shiftleft(1, i) AS BIGINT)), " +
          "CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("cut_mask"))
      // materialize the narrow per-blob folds ONCE before the global
      // sort (round 13, guide §2.4): a range sort directly above a
      // heavy no-shuffle projection evaluates the child TWICE — once
      // for the range-partitioner sample, once for the exchange map —
      // so every signature/distance fold ran double (measured: two
      // ~1 s single-stage jobs per run at sf0.1). The checkpoint pins
      // the 4-column fold output; the sample + sort then run over
      // narrow materialized rows. Distributed and linear at any scale.
      .transform(Pin.cut)
      .orderBy("doc_id")
  }

  val m17Sql: String = {
    def cnt(cls: String) = s"length(regexp_replace(w, '[^$cls]', '', 'g'))"
    s"""WITH d AS (SELECT doc_id, lower(text) AS t, n_chars
       |  FROM documents WHERE n_chars >= 128),
       |fr AS (
       |  SELECT doc_id, k,
       |    substr(t, CAST(k * greatest(1, (n_chars - 64) // 7) + 1 AS INT),
       |      64) AS w
       |  FROM d CROSS JOIN range(8) r(k)),
       |sig AS (
       |  SELECT doc_id, k, ${cnt("aeiou")} AS v, ${cnt("0-9")} AS dg,
       |    ${cnt(" ")} AS sp, ${cnt("b-df-hj-np-tv-z")} AS cs
       |  FROM fr),
       |tr AS (
       |  SELECT a.doc_id, a.k AS i,
       |    CASE WHEN abs(a.v - b.v) + abs(a.dg - b.dg) + abs(a.sp - b.sp) +
       |      abs(a.cs - b.cs) > 8 THEN 1 ELSE 0 END AS cut
       |  FROM sig a JOIN sig b ON a.doc_id = b.doc_id AND b.k = a.k + 1),
       |shots AS (
       |  SELECT doc_id, i, cut,
       |    sum(cut) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM tr),
       |-- a shot's length in frames = its INTERIOR (cut-free)
       |-- transitions + 1; boundary transitions belong to no shot
       |runs AS (
       |  SELECT doc_id, sid, count(*) AS n_tr
       |  FROM shots WHERE cut = 0 GROUP BY 1, 2),
       |longest AS (SELECT doc_id, max(n_tr) + 1 AS ls FROM runs GROUP BY 1)
       |SELECT t.doc_id,
       |  CAST(sum(t.cut) AS INT) AS n_cuts,
       |  CAST(sum(t.cut) + 1 AS INT) AS n_shots,
       |  CAST(coalesce(max(l.ls), 1) AS INT) AS longest_shot,
       |  CAST(sum(t.cut * (1 << t.i)) AS BIGINT) AS cut_mask
       |FROM tr t LEFT JOIN longest l ON l.doc_id = t.doc_id
       |GROUP BY 1 ORDER BY t.doc_id""".stripMargin
  }

  // m18: ADAPTIVE-BITRATE RENDITION LADDER planning (the transcode
  // budgeting pass every video platform runs before ingest: which
  // downscaled renditions to produce and what they will cost in
  // bytes): source dimensions derive deterministically from blob
  // metadata (the m04 stub discipline, scaled to real video ranges),
  // ladder rungs = {1080, 720, 480, 360} capped at source height
  // (never upscale) plus the source's own rung; scaled width
  // preserves aspect and snaps to EVEN (codec macroblock rule) via
  // integer math; byte cost under a 0.07-bpp 30-fps 60-s model — all
  // integer division, no float anywhere. Per (source, rung): video
  // count and total bytes — the capacity-planning rollup. Scale:
  // pure map-side rung explosion (≤5/blob) into one keyed agg.
  def m18(s: SparkSession, d: String): DataFrame = {
    val vids = Tables.documents(s, d).filter(col("n_chars") % 3 === 2)
      .select(col("doc_id"), col("source"),
        (lit(320) + (col("n_chars") * 13) % 1600).cast("long").as("src_w"),
        (lit(240) + (col("n_chars") * 7) % 1200).cast("long").as("src_h"))
    val rungs = vids
      .withColumn("rung_h", explode(array_distinct(filter(
        array(col("src_h"), lit(1080L), lit(720L), lit(480L), lit(360L)),
        h => h <= col("src_h")))))
      .withColumn("rung_w",
        expr("((src_w * rung_h) div src_h) - ((src_w * rung_h) div src_h) % 2"))
      .withColumn("bytes",
        expr("(((rung_w * rung_h * 30 * 7) div 100) * 60) div 8"))
    rungs.groupBy("source", "rung_h")
      .agg(count(lit(1)).as("n_videos"), sum("bytes").as("total_bytes"),
        sum("rung_w").as("sum_w"))
      .orderBy("source", "rung_h")
  }

  val m18Sql: String =
    """WITH vids AS (
      |  SELECT doc_id, source,
      |    CAST(320 + (n_chars * 13) % 1600 AS BIGINT) AS src_w,
      |    CAST(240 + (n_chars * 7) % 1200 AS BIGINT) AS src_h
      |  FROM documents WHERE n_chars % 3 = 2),
      |rungs AS (
      |  SELECT source,
      |    unnest(list_distinct(list_filter([src_h, 1080, 720, 480, 360],
      |      h -> h <= src_h))) AS rung_h,
      |    src_w, src_h
      |  FROM vids),
      |sized AS (
      |  SELECT source, rung_h,
      |    ((src_w * rung_h) // src_h) - ((src_w * rung_h) // src_h) % 2
      |      AS rung_w
      |  FROM rungs)
      |SELECT source, rung_h, count(*) AS n_videos,
      |  CAST(sum((((rung_w * rung_h * 30 * 7) // 100) * 60) // 8) AS BIGINT)
      |    AS total_bytes,
      |  CAST(sum(rung_w) AS BIGINT) AS sum_w
      |FROM sized GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // m19: VOICE-ACTIVITY SEGMENTATION (the audio twin of m17's shot
  // detection — energy-threshold VAD is the first pass of every
  // speech pipeline: transcription is billed per speech second, so
  // silence must be cut BEFORE the expensive model runs). AUDIO blobs
  // only (m01's n_chars%3 routing); 16 fixed-stride stub-decoded
  // "chunks" per blob, per-chunk energy = [a-m]-density of the
  // 32-byte window (threshold ≤10 calibrated: corpus p10, so real
  // silence exists without dominating); per blob: silent-chunk count,
  // speech ratio in exact ppm, number of SPEECH SEGMENTS (maximal
  // voiced runs — what gets shipped to the transcriber), longest
  // silence run, and the exact 16-bit silence mask (m17's positional
  // discipline — a misplaced silence flips the hash). ENTIRELY
  // map-side in-row folds: signatures, runs and mask never leave the
  // row — zero shuffles beside the output sort, free inside any
  // corpus scan at 100 TB.
  def m19(s: SparkSession, d: String): DataFrame = {
    val stride = greatest(lit(1), expr("(n_chars - 32) div 15"))
    // [a-m] count via translate (same swap as m17's cnt — only the
    // count is used; the oracle keeps the regexp spelling)
    val sil = transform(sequence(lit(0), lit(15)), k => {
      val w = substr(lower(col("text")), (k * stride + 1).cast("int"), lit(32))
      (length(w) - length(translate(w, "abcdefghijklm", "")) <= 10).cast("int")
    })
    Tables.documents(s, d)
      .filter(col("n_chars") % 3 === 1 && col("n_chars") >= 128)
      .select(col("doc_id"), col("text"), col("n_chars"))
      .withColumn("sil", sil)
      .select(col("doc_id"),
        aggregate(col("sil"), lit(0), (a, x) => a + x).as("n_silent"),
        expr("(16 - aggregate(sil, 0, (a, x) -> a + x)) * 1000000 div 16")
          .as("speech_ratio_ppm"),
        // speech segments: count voiced-run starts (prev defaults to
        // silent so a voiced first chunk opens a segment)
        (aggregate(col("sil"),
          struct(lit(1).as("prev"), lit(0).as("cnt")),
          (acc, x) => struct(x.as("prev"),
            (acc("cnt") + when(x === 0 && acc("prev") === 1, 1)
              .otherwise(0)).as("cnt")))("cnt")).as("n_segments"),
        (aggregate(col("sil"),
          struct(lit(0).as("cur"), lit(0).as("best")),
          (acc, x) => {
            val cur2 = when(x === 1, acc("cur") + 1).otherwise(lit(0))
            struct(cur2.as("cur"), greatest(acc("best"), cur2).as("best"))
          })("best")).as("longest_silence"),
        expr("aggregate(zip_with(sil, sequence(0, 15), " +
          "(c, i) -> CAST(c AS BIGINT) * CAST(shiftleft(1, i) AS BIGINT)), " +
          "CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("silence_mask"))
      .orderBy("doc_id")
  }

  val m19Sql: String =
    """WITH d AS (SELECT doc_id, lower(text) AS t, n_chars FROM documents
      |  WHERE n_chars % 3 = 1 AND n_chars >= 128),
      |fr AS (
      |  SELECT doc_id, k,
      |    CASE WHEN length(regexp_replace(
      |        substr(t, CAST(k * greatest(1, (n_chars - 32) // 15) + 1 AS INT),
      |          32), '[^a-m]', '', 'g')) <= 10 THEN 1 ELSE 0 END AS sil
      |  FROM d CROSS JOIN range(16) r(k)),
      |mark AS (
      |  SELECT doc_id, k, sil,
      |    coalesce(lag(sil) OVER (PARTITION BY doc_id ORDER BY k), 1) AS prev
      |  FROM fr),
      |runs AS (
      |  SELECT doc_id, k - CAST(row_number() OVER (PARTITION BY doc_id
      |    ORDER BY k) AS BIGINT) AS grp
      |  FROM fr WHERE sil = 1),
      |longest AS (
      |  SELECT doc_id, CAST(max(c) AS INT) AS longest_silence FROM (
      |    SELECT doc_id, grp, count(*) AS c FROM runs GROUP BY 1, 2)
      |  GROUP BY 1),
      |agg AS (
      |  SELECT doc_id,
      |    CAST(sum(sil) AS INT) AS n_silent,
      |    CAST((16 - sum(sil)) * 1000000 // 16 AS BIGINT)
      |      AS speech_ratio_ppm,
      |    CAST(sum(CASE WHEN sil = 0 AND prev = 1 THEN 1 ELSE 0 END) AS INT)
      |      AS n_segments,
      |    CAST(sum(sil * (1 << k)) AS BIGINT) AS silence_mask
      |  FROM mark GROUP BY 1)
      |SELECT a.doc_id, a.n_silent, a.speech_ratio_ppm, a.n_segments,
      |  coalesce(l.longest_silence, 0) AS longest_silence, a.silence_mask
      |FROM agg a LEFT JOIN longest l ON a.doc_id = l.doc_id
      |ORDER BY a.doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m19_vad_segments" -> (m19 _),
    "m18_abr_ladder" -> (m18 _),
    "m17_shot_detect" -> (m17 _),
    "m16_cdc_chunking" -> (m16 _),
    "m15_crossmodal_eval" -> (m15 _),
    "m14_aspect_buckets" -> (m14 _),
    "m13_caption_pairs" -> (m13 _),
    "m12_modality_router" -> (m12 _),
    "m11_sequence_packing" -> (m11 _),
    "m10_phash_dedup" -> (m10 _),
    "m09_token_budget" -> (m09 _),
    "m08_av_sync" -> (m08 _),
    "m07_visual_search" -> (m07 _),
    "m06_chunk_reassembly" -> (m06 _),
    "m01_binary_meta" -> (m01 _),
    "m02_frame_sample" -> (m02 _),
    "m03_feature_stub" -> (m03 _),
    "m04_media_resize" -> (m04 _),
    "m05_header_parse" -> (m05 _))

  val oracles: Map[String, String] = Map(
    "m19_vad_segments" -> m19Sql,
    "m18_abr_ladder" -> m18Sql,
    "m17_shot_detect" -> m17Sql,
    "m16_cdc_chunking" -> m16Sql,
    "m15_crossmodal_eval" -> m15Sql,
    "m14_aspect_buckets" -> m14Sql,
    "m13_caption_pairs" -> m13Sql,
    "m12_modality_router" -> m12Sql,
    "m11_sequence_packing" -> m11Sql,
    "m10_phash_dedup" -> m10Sql,
    "m09_token_budget" -> m09Sql,
    "m08_av_sync" -> m08Sql,
    "m07_visual_search" -> m07Sql,
    "m06_chunk_reassembly" -> m06Sql,
    "m01_binary_meta" -> m01Sql,
    "m02_frame_sample" -> m02Sql,
    "m03_feature_stub" -> m03Sql,
    "m04_media_resize" -> m04Sql,
    "m05_header_parse" -> m05Sql)
}
