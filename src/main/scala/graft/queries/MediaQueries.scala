package graft
package queries

import graft.operators.Multimodal

import org.apache.spark.sql.functions._

/** The `mm` family: multimodal columns — media metadata, perceptual
  * hashes, frames, audio and alignment. */
private[queries] object MediaQueries {
  import QueryKit._

  val all: Seq[QueryDef] = Seq(
    QueryDef("mm1_media_metadata", ((s, dir) =>
      Multimodal.metadata(
        Multimodal.mediaFromDocuments(s, t(s, dir, "documents")).toDF())),
      """SELECT doc_id AS media_id,
        |CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |ELSE 'video' END AS media_type,
        |strlen(text)::BIGINT AS n_bytes, md5(text) AS checksum
        |FROM documents""".stripMargin),
    QueryDef("mm12_container_audit", ((s, dir) =>
      // pre-decode container screen: magic-byte sniff (JPEG/PNG/RIFF/
      // ftyp) reconciled against the declared modality, truncation and
      // empties flagged first — binary prefix arithmetic only, one
      // narrow scan to a (type x status) aggregate
      Multimodal.containerAudit(
        Multimodal.mediaFromDocuments(s, t(s, dir, "documents")))),
      """WITH m AS (SELECT
        |CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |ELSE 'video' END AS media_type,
        |upper(hex(encode(text))) AS ph,
        |octet_length(encode(text))::BIGINT AS n_bytes FROM documents),
        |s AS (SELECT media_type, n_bytes,
        |CASE WHEN ph LIKE 'FFD8FF%' THEN 'image'
        |WHEN ph LIKE '89504E47%' THEN 'image'
        |WHEN ph LIKE '52494646%' THEN 'audio'
        |WHEN substr(ph, 9, 8) = '66747970' THEN 'video'
        |ELSE 'unknown' END AS sniffed FROM m),
        |st AS (SELECT media_type, n_bytes,
        |CASE WHEN n_bytes = 0 THEN 'empty'
        |WHEN n_bytes < 16 THEN 'truncated'
        |WHEN sniffed = media_type THEN 'signed_ok'
        |WHEN sniffed <> 'unknown' THEN 'signed_mismatch'
        |ELSE 'unsigned' END AS status FROM s)
        |SELECT media_type, status, count(*)::BIGINT AS n_media,
        |sum(n_bytes)::BIGINT AS total_bytes
        |FROM st GROUP BY 1, 2""".stripMargin),
    QueryDef("mm5_phash_dedup", ((s, dir) => {
      // media near-dup groups keyed on the integer-exact perceptual hash:
      // signature pass is narrow, grouping is one hash aggregation — no
      // pairwise payload comparison
      val media = Multimodal.mediaFromDocuments(s, t(s, dir, "documents"))
      Multimodal.perceptualHash(media)
        .groupBy("phash")
        .agg(count(lit(1)).as("n_media"), min(col("media_id")).as("keep_id"))
    }),
      """WITH pos AS (SELECT doc_id, text,
        |unnest(range(1, strlen(text) + 1)) AS i FROM documents),
        |lanes AS (SELECT doc_id, ((i - 1) % 8)::INT AS j,
        |sum(ascii(substr(text, i::INT, 1)))::BIGINT AS s
        |FROM pos GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(s)::BIGINT AS total FROM lanes GROUP BY 1),
        |sig AS (SELECT lanes.doc_id,
        |sum(CASE WHEN s * 8 > total THEN (1::BIGINT << j) ELSE 0 END)::BIGINT
        |  AS phash
        |FROM lanes JOIN tot ON lanes.doc_id = tot.doc_id GROUP BY 1)
        |SELECT phash, count(*) AS n_media, min(doc_id) AS keep_id
        |FROM sig GROUP BY 1""".stripMargin),
    QueryDef("mm11_phash_neardup", ((s, dir) => {
      // image near-dup at scale, the standard recipe: 64-bit perceptual
      // hash + Hamming radius 7, candidates from the pigeonhole band
      // equi-join (8 bands of 8 — lossless vs the exhaustive <=7 join),
      // popcount verify map-side. No pairwise payload comparison
      val media = Multimodal.mediaFromDocuments(s, t(s, dir, "documents"))
      Multimodal.phashNearDupPairs(media, bands = 8, maxHamming = 7)
    }),
      """WITH pos AS (SELECT doc_id, text,
        |unnest(range(1, strlen(text) + 1)) AS i FROM documents),
        |lanes AS (SELECT doc_id, ((i - 1) % 64)::INT AS j,
        |sum(ascii(substr(text, i::INT, 1)))::BIGINT AS s
        |FROM pos GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(s)::BIGINT AS total FROM lanes GROUP BY 1),
        |sigh AS (SELECT lanes.doc_id,
        |sum(CASE WHEN s * 64 > total THEN (1::HUGEINT << j) ELSE 0 END)
        |  AS sh
        |FROM lanes JOIN tot ON lanes.doc_id = tot.doc_id GROUP BY 1),
        |sig AS (SELECT doc_id, (CASE WHEN sh >= (1::HUGEINT << 63)
        |THEN sh - (1::HUGEINT << 64) ELSE sh END)::BIGINT AS sg FROM sigh)
        |SELECT a.doc_id AS media_a, b.doc_id AS media_b,
        |bit_count(xor(a.sg, b.sg))::INT AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sg, b.sg)) <= 7""".stripMargin),
    QueryDef("mm3_frame_sample", ((s, dir) => {
      // video-keyframe shape through the typed-Dataset flatMap: one media
      // row fans out to its kept frames (64-byte frames, every 2nd);
      // frames rendered as hex so the oracle can reproduce them (DuckDB
      // cannot slice BLOBs — it frames the hex string instead)
      val media = Multimodal.mediaFromDocuments(s, t(s, dir, "documents"))
      Multimodal.sampleFrames(media, frameSize = 64, everyNth = 2).toDF()
        .select(col("media_id"), col("frame_idx"),
          upper(hex(col("frame"))).as("frame_hex"),
          octet_length(col("frame")).cast("long").as("n_bytes"))
    }),
      """WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS ph,
        |octet_length(encode(text)) AS n FROM documents),
        |f AS (SELECT media_id, i::INT AS frame_idx,
        |substr(ph, (i * 128 + 1)::INT, 128) AS fh
        |FROM (SELECT media_id, ph, unnest(range(0, (n + 63) // 64)) AS i FROM m))
        |SELECT media_id, frame_idx, upper(fh) AS frame_hex,
        |(strlen(fh) // 2)::BIGINT AS n_bytes
        |FROM f WHERE frame_idx % 2 = 0""".stripMargin),
    QueryDef("mm4_resize", ((s, dir) => {
      // deterministic stride "resize" through the typed map: payloads above
      // the target are downsampled to every stride-th byte; metadata
      // (width/height) shrinks with the stride. Hex rendering for the
      // oracle, as in mm3.
      val media = Multimodal.mediaFromDocuments(s, t(s, dir, "documents"))
      Multimodal.resizePayload(media, targetBytes = 100).toDF()
        .select(col("media_id"), col("width"), col("height"),
          octet_length(col("payload")).cast("long").as("n_bytes"),
          upper(hex(col("payload"))).as("payload_hex"))
    }),
      """WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS ph,
        |octet_length(encode(text)) AS n FROM documents),
        |p AS (SELECT media_id, ph, n,
        |CASE WHEN n <= 100 THEN 1 ELSE ((n + 99) // 100)::INT END AS stride FROM m),
        |idx AS (SELECT media_id, ph, stride,
        |unnest(range(0, (n + stride - 1) // stride)) AS i FROM p WHERE n > 100),
        |ds AS (SELECT media_id,
        |string_agg(substr(ph, (i * stride * 2 + 1)::INT, 2), '' ORDER BY i) AS outh,
        |max(stride) AS stride FROM idx GROUP BY media_id),
        |small AS (SELECT media_id, ph AS outh, 1 AS stride FROM p WHERE n <= 100),
        |allr AS (SELECT * FROM ds UNION ALL SELECT * FROM small)
        |SELECT media_id,
        |greatest(1, 64 // stride)::INT AS width,
        |greatest(1, 64 // stride)::INT AS height,
        |(strlen(outh) // 2)::BIGINT AS n_bytes,
        |upper(outh) AS payload_hex
        |FROM allr""".stripMargin),
    QueryDef("mm6_frame_energy", ((s, dir) =>
      // audio-feature shape: overlapping 32-byte frames (hop 16), integer
      // energy + peak per frame through the typed flatMap — exact on any
      // partitioning, fully reproduced by the oracle from the hex payload
      Multimodal.frameEnergy(
        Multimodal.mediaFromDocuments(s, t(s, dir, "documents")),
        window = 32, stride = 16).toDF()),
      """WITH m AS (SELECT doc_id AS media_id, lower(hex(encode(text))) AS ph,
        |octet_length(encode(text)) AS n FROM documents),
        |fr AS (SELECT media_id, ph, n,
        |unnest(range(0, greatest((n - 32 + 15) // 16 + 1, 1))) AS f FROM m),
        |byt AS (SELECT media_id, f,
        |strpos('123456789abcdef',
        |  substr(ph, ((f * 16 + i) * 2 + 1)::INT, 1)) * 16 +
        |strpos('123456789abcdef',
        |  substr(ph, ((f * 16 + i) * 2 + 2)::INT, 1)) AS b
        |FROM fr, range(0, 32) ri(i) WHERE f * 16 + i < n)
        |SELECT fr.media_id, fr.f::INT AS frame_idx,
        |count(byt.b)::INT AS n_bytes,
        |coalesce(sum(byt.b * byt.b), 0)::BIGINT AS energy,
        |coalesce(max(byt.b), 0)::INT AS peak
        |FROM fr LEFT JOIN byt
        |ON byt.media_id = fr.media_id AND byt.f = fr.f
        |GROUP BY 1, 2""".stripMargin),
    QueryDef("mm13_av_alignment", ((s, dir) => {
      // audio/visual alignment audit over the video subset: does a
      // shot CUT land inside an activity (speech) segment of the same
      // clip? Straddled segments are the clips a naive cut-based
      // extractor would sever mid-speech — the pre-extraction safety
      // gate composing mm7's VAD islands with mm9's cut detector on
      // ONE shared frame-energy pass; the interval probe is a media-
      // keyed equi-join with a range conjunct, never a cross
      val fe = Multimodal.frameEnergy(
        Multimodal.mediaFromDocuments(s, t(s, dir, "documents"))
          .filter(col("media_type") === "video"),
        window = 32, stride = 16)
      // activity floor 150k (vs mm7's 310k): the straddle question is
      // "is anything audible across the cut", not "is it loud" — at
      // 310k both sides of a >=1e5 jump are almost never active and
      // the audit degenerates to zeros
      val segs = Multimodal.activeSegments(fe, minEnergy = 150000L)
      val cuts = Multimodal.shotBoundaries(fe, minDelta = 100000L)
        .filter(col("shot_idx") >= 2L)
        .select(col("media_id").as("cm"), col("start_frame").as("cut_frame"))
      segs.join(cuts, col("media_id") === col("cm") &&
          col("cut_frame") > col("start_frame") &&
          col("cut_frame") <= col("end_frame"), "left")
        .groupBy("media_id")
        .agg(countDistinct(col("seg_idx")).as("n_segments"),
          countDistinct(when(col("cut_frame").isNotNull, col("seg_idx")))
            .as("n_straddled"),
          countDistinct(col("cut_frame")).as("n_cuts_in_speech"))
    }),
      // the shared frame-energy chain on the video subset, then mm7's
      // islands and mm9's cut chain joined on the interval probe
      """WITH m AS (SELECT doc_id AS media_id, lower(hex(encode(text))) AS ph,
        |octet_length(encode(text)) AS n FROM documents WHERE doc_id % 3 = 2),
        |fr AS (SELECT media_id, ph, n,
        |unnest(range(0, greatest((n - 32 + 15) // 16 + 1, 1))) AS f FROM m),
        |byt AS (SELECT media_id, f,
        |strpos('123456789abcdef',
        |  substr(ph, ((f * 16 + i) * 2 + 1)::INT, 1)) * 16 +
        |strpos('123456789abcdef',
        |  substr(ph, ((f * 16 + i) * 2 + 2)::INT, 1)) AS b
        |FROM fr, range(0, 32) ri(i) WHERE f * 16 + i < n),
        |fe AS (SELECT fr.media_id, fr.f AS frame_idx,
        |coalesce(sum(byt.b * byt.b), 0)::BIGINT AS energy
        |FROM fr LEFT JOIN byt
        |ON byt.media_id = fr.media_id AND byt.f = fr.f GROUP BY 1, 2),
        |act AS (SELECT media_id, frame_idx,
        |frame_idx - row_number() OVER (PARTITION BY media_id
        |ORDER BY frame_idx) AS grp FROM fe WHERE energy >= 150000),
        |segs0 AS (SELECT media_id, grp, min(frame_idx) AS start_frame,
        |max(frame_idx) AS end_frame FROM act GROUP BY 1, 2),
        |segs AS (SELECT media_id, start_frame, end_frame,
        |row_number() OVER (PARTITION BY media_id ORDER BY start_frame)
        |  AS seg_idx FROM segs0),
        |d AS (SELECT media_id, frame_idx, energy, lag(energy) OVER (
        |PARTITION BY media_id ORDER BY frame_idx) AS prev_e FROM fe),
        |c AS (SELECT media_id, frame_idx,
        |CASE WHEN prev_e IS NOT NULL AND abs(energy - prev_e) >= 100000
        |THEN 1 ELSE 0 END AS cut FROM d),
        |sh AS (SELECT media_id, frame_idx, (sum(cut) OVER (
        |PARTITION BY media_id ORDER BY frame_idx) + 1)::BIGINT AS shot_idx
        |FROM c),
        |cuts AS (SELECT media_id AS cm, min(frame_idx) AS cut_frame
        |FROM sh WHERE shot_idx >= 2 GROUP BY media_id, shot_idx)
        |SELECT segs.media_id, count(DISTINCT seg_idx)::BIGINT
        |  AS n_segments,
        |count(DISTINCT CASE WHEN cut_frame IS NOT NULL THEN seg_idx
        |  END)::BIGINT AS n_straddled,
        |count(DISTINCT cut_frame)::BIGINT AS n_cuts_in_speech
        |FROM segs LEFT JOIN cuts ON cuts.cm = segs.media_id
        |AND cut_frame > start_frame AND cut_frame <= end_frame
        |GROUP BY 1""".stripMargin),
    QueryDef("mm9_shot_cuts", ((s, dir) =>
      // video cut detection on the frame-energy series: a cut is a >=1e5
      // energy jump between consecutive frames; shots are the runs
      // between cuts, counted by a running cut sum — two windows + one
      // agg on a single media_id shuffle
      Multimodal.shotBoundaries(
        Multimodal.frameEnergy(
          Multimodal.mediaFromDocuments(s, t(s, dir, "documents")),
          window = 32, stride = 16),
        minDelta = 100000L)),
      """WITH m AS (SELECT doc_id AS media_id, lower(hex(encode(text))) AS ph,
        |octet_length(encode(text)) AS n FROM documents),
        |fr AS (SELECT media_id, ph, n,
        |unnest(range(0, greatest((n - 32 + 15) // 16 + 1, 1))) AS f FROM m),
        |byt AS (SELECT media_id, f,
        |strpos('123456789abcdef',
        |  substr(ph, ((f * 16 + i) * 2 + 1)::INT, 1)) * 16 +
        |strpos('123456789abcdef',
        |  substr(ph, ((f * 16 + i) * 2 + 2)::INT, 1)) AS b
        |FROM fr, range(0, 32) ri(i) WHERE f * 16 + i < n),
        |fe AS (SELECT fr.media_id, fr.f AS frame_idx,
        |coalesce(sum(byt.b * byt.b), 0)::BIGINT AS energy
        |FROM fr LEFT JOIN byt
        |ON byt.media_id = fr.media_id AND byt.f = fr.f GROUP BY 1, 2),
        |d AS (SELECT media_id, frame_idx, energy, lag(energy) OVER (
        |PARTITION BY media_id ORDER BY frame_idx) AS prev_e FROM fe),
        |c AS (SELECT media_id, frame_idx, energy,
        |CASE WHEN prev_e IS NOT NULL AND abs(energy - prev_e) >= 100000
        |THEN 1 ELSE 0 END AS cut FROM d),
        |sh AS (SELECT media_id, frame_idx, energy, (sum(cut) OVER (
        |PARTITION BY media_id ORDER BY frame_idx) + 1)::BIGINT AS shot_idx
        |FROM c)
        |SELECT media_id, shot_idx, min(frame_idx)::INT AS start_frame,
        |max(frame_idx)::INT AS end_frame, count(*)::BIGINT AS n_frames,
        |sum(energy)::BIGINT AS sum_energy
        |FROM sh GROUP BY 1, 2""".stripMargin),
    QueryDef("mm8_patch_grid", ((s, dir) =>
      // ViT-style patchification: the payload as a row-major 64-column
      // image cut into 16x16 patches (partial edge patches keep true
      // counts) — one typed flatMap fan-out, integer patch summaries,
      // bit-identical on any partitioning
      Multimodal.patchGrid(
          Multimodal.mediaFromDocuments(s, t(s, dir, "documents")),
          tile = 16)
        .toDF().select("media_id", "patch_row", "patch_col",
          "n_bytes", "byte_sum")),
      """WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS ph,
        |octet_length(encode(text)) AS n FROM documents),
        |pos AS (SELECT media_id, i,
        |('0x' || substr(ph, (i * 2 + 1)::INT, 2))::BIGINT AS bv
        |FROM (SELECT media_id, ph, unnest(range(0, n)) AS i FROM m))
        |SELECT media_id,
        |((i // 64) // 16)::INT AS patch_row,
        |((i % 64) // 16)::INT AS patch_col,
        |count(*)::BIGINT AS n_bytes, sum(bv)::BIGINT AS byte_sum
        |FROM pos GROUP BY 1, 2, 3""".stripMargin),
    QueryDef("mm7_active_segments", ((s, dir) =>
      // VAD-style activity segmentation over the audio subset: maximal
      // runs of frames above the energy floor (gaps-and-islands on the
      // frame index) — the silence-trim pass before transcription/clip
      // extraction. Integer energies, exact on any partitioning
      Multimodal.activeSegments(
        Multimodal.frameEnergy(
          Multimodal.mediaFromDocuments(s, t(s, dir, "documents"))
            .filter(col("media_type") === "audio"),
          window = 32, stride = 16),
        minEnergy = 310000L)),
      // mm6's hex frame expansion restricted to the audio subset, then
      // gaps-and-islands over the above-floor frames
      """WITH m AS (SELECT doc_id AS media_id, lower(hex(encode(text))) AS ph,
        |octet_length(encode(text)) AS n FROM documents WHERE doc_id % 3 = 1),
        |fr AS (SELECT media_id, ph, n,
        |unnest(range(0, greatest((n - 32 + 15) // 16 + 1, 1))) AS f FROM m),
        |byt AS (SELECT media_id, f,
        |strpos('123456789abcdef',
        |  substr(ph, ((f * 16 + i) * 2 + 1)::INT, 1)) * 16 +
        |strpos('123456789abcdef',
        |  substr(ph, ((f * 16 + i) * 2 + 2)::INT, 1)) AS b
        |FROM fr, range(0, 32) ri(i) WHERE f * 16 + i < n),
        |fe AS (SELECT fr.media_id, fr.f AS frame_idx,
        |coalesce(sum(byt.b * byt.b), 0)::BIGINT AS energy
        |FROM fr LEFT JOIN byt
        |ON byt.media_id = fr.media_id AND byt.f = fr.f GROUP BY 1, 2),
        |act AS (SELECT media_id, frame_idx FROM fe WHERE energy >= 310000),
        |g AS (SELECT media_id, frame_idx, frame_idx - row_number()
        |OVER (PARTITION BY media_id ORDER BY frame_idx) AS grp FROM act),
        |seg AS (SELECT media_id, min(frame_idx)::INT AS start_frame,
        |max(frame_idx)::INT AS end_frame, count(*)::BIGINT AS n_frames
        |FROM g GROUP BY media_id, grp)
        |SELECT media_id, row_number() OVER (PARTITION BY media_id
        |ORDER BY start_frame)::INT AS seg_idx,
        |start_frame, end_frame, n_frames FROM seg""".stripMargin),
    QueryDef("mm10_loudness_gain", ((s, dir) =>
      // loudness normalization over the audio subset: per-clip ppm gain
      // bringing mean frame energy to the target level, integer floor
      // division throughout; near-silent clips are limited at 4x and
      // flagged instead of amplified into noise
      Multimodal.loudnessGain(
        Multimodal.frameEnergy(
          Multimodal.mediaFromDocuments(s, t(s, dir, "documents"))
            .filter(col("media_type") === "audio"),
          window = 32, stride = 16),
        targetEnergy = 500000L, maxGainPpm = 4000000L)),
      // mm7's hex frame-energy expansion over the audio subset, then one
      // per-media aggregation; every division is BIGINT floor division
      """WITH m AS (SELECT doc_id AS media_id, lower(hex(encode(text))) AS ph,
        |octet_length(encode(text)) AS n FROM documents WHERE doc_id % 3 = 1),
        |fr AS (SELECT media_id, ph, n,
        |unnest(range(0, greatest((n - 32 + 15) // 16 + 1, 1))) AS f FROM m),
        |byt AS (SELECT media_id, f,
        |strpos('123456789abcdef',
        |  substr(ph, ((f * 16 + i) * 2 + 1)::INT, 1)) * 16 +
        |strpos('123456789abcdef',
        |  substr(ph, ((f * 16 + i) * 2 + 2)::INT, 1)) AS b
        |FROM fr, range(0, 32) ri(i) WHERE f * 16 + i < n),
        |fe AS (SELECT fr.media_id, fr.f AS frame_idx,
        |coalesce(sum(byt.b * byt.b), 0)::BIGINT AS energy
        |FROM fr LEFT JOIN byt
        |ON byt.media_id = fr.media_id AND byt.f = fr.f GROUP BY 1, 2),
        |agg AS (SELECT media_id, count(*)::BIGINT AS n_frames,
        |sum(energy)::BIGINT AS energy_sum FROM fe GROUP BY 1)
        |SELECT media_id, n_frames, energy_sum,
        |energy_sum // n_frames AS mean_energy,
        |500000000000::BIGINT // greatest(energy_sum // n_frames, 1)
        |  AS gain_ppm,
        |least(500000000000::BIGINT // greatest(energy_sum // n_frames, 1),
        |  4000000)::BIGINT AS applied_ppm,
        |500000000000::BIGINT // greatest(energy_sum // n_frames, 1)
        |  > 4000000 AS limited
        |FROM agg""".stripMargin),
    QueryDef("mm2_media_features", ((s, dir) => {
      // decode-path oracle: media_id/media_type/n_bytes/checksum are computed
      // INSIDE the mapPartitions decode pass (not mm1's SQL path), plus an
      // invariant gate on the feature vector itself — FakeCodec emits
      // byte-histogram means, so every element must lie in [0,1] and a
      // non-empty payload must produce a positive total
      val media = Multimodal.mediaFromDocuments(s, t(s, dir, "documents"))
      Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("media_type"), col("n_bytes"),
          col("checksum"),
          (forall(col("feat"), x => x >= 0.0 && x <= 1.0) &&
            (col("n_bytes") === 0 ||
              aggregate(col("feat"), lit(0.0), (a, x) => a + x) > 0.0))
            .as("feat_ok"))
    }),
      """SELECT doc_id AS media_id,
        |CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |ELSE 'video' END AS media_type,
        |strlen(text)::BIGINT AS n_bytes, md5(text) AS checksum,
        |true AS feat_ok
        |FROM documents""".stripMargin)
  )
}
