package graft.registry

import graft.Tables
import graft.llm.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** m-family: multimodal decode / feature plumbing over opaque binary
  * payloads; shared fixtures in [[LlmFixtures]]. */
object MultimodalQueries {

  val queries: Seq[Query] = Seq(
    // m1 — REAL image decode: genuine PNG bytes (ImageIO.write) flow
    // through the binary column and javax.imageio parses them back in
    // the batched mapPartitions; the oracle replays the synthesis
    // formulas in closed form, so a wrong decode fails the hash match.
    // n_bytes is excluded (compressed PNG size is encoder-dependent).
    Query("m1_multimodal_decode",
      """WITH d AS (
        |  SELECT doc_id AS media_id,
        |    CAST(16 + doc_id % 17 AS BIGINT) AS w,
        |    CAST(16 + (3 * doc_id + 5) % 13 AS BIGINT) AS h,
        |    CAST(doc_id % 256 AS BIGINT) AS a,
        |    CAST((7 * doc_id + 13) % 256 AS BIGINT) AS b
        |  FROM documents)
        |SELECT media_id, w AS width, h AS height,
        |  CAST(1 AS BIGINT) AS channels,
        |  CAST(h * ((w // 2) * a + (w - w // 2) * b) AS BIGINT) AS px_sum
        |FROM d ORDER BY media_id""".stripMargin) { (s, dir) =>
      Multimodal.decodeImageBatched(
        Multimodal.synthesizePngPayload(Tables.documents(s, dir), "doc_id"))
        .select("media_id", "width", "height", "channels", "px_sum")
        .orderBy("media_id")
    },
    Query("m2_frame_sample",
      """SELECT media_id, n_frames, unnest(generate_series(0, n_frames - 1, 2)) AS frame_idx
        |FROM (
        |  SELECT doc_id AS media_id, CAST(3 + doc_id % 4 AS BIGINT) AS n_frames
        |  FROM documents)
        |ORDER BY media_id, frame_idx""".stripMargin) { (s, dir) =>
      // frame sampling over the REAL video decode: the frame counts
      // come from parsing actual AVI containers, then the columnar
      // explode emits every stride-th frame index
      Multimodal.sampleFrames(
        Multimodal.decodeVideoBatched(
          Multimodal.synthesizeAviPayload(Tables.documents(s, dir), "doc_id")),
        stride = 2)
        .orderBy("media_id", "frame_idx")
    },
    // m3 — resize planning (fit-within 224×224, aspect preserved) over
    // REAL decoded dimensions: exact integer axis selection + floor
    // division, engine-replayable
    Query("m3_resize_plan",
      """WITH d AS (
        |  SELECT doc_id AS media_id,
        |    CAST(16 + doc_id % 17 AS BIGINT) AS w,
        |    CAST(16 + (3 * doc_id + 5) % 13 AS BIGINT) AS h
        |  FROM documents)
        |SELECT media_id, w AS src_w, h AS src_h,
        |  CASE WHEN w * 224 <= h * 224
        |       THEN CAST((w * 224) // h AS BIGINT)
        |       ELSE 224 END AS dst_w,
        |  CASE WHEN w * 224 <= h * 224
        |       THEN 224
        |       ELSE CAST((h * 224) // w AS BIGINT) END AS dst_h
        |FROM d ORDER BY media_id""".stripMargin) { (s, dir) =>
      Multimodal.planResize(
        Multimodal.decodeImageBatched(
          Multimodal.synthesizePngPayload(Tables.documents(s, dir), "doc_id")),
        targetW = 224L, targetH = 224L)
        .orderBy("media_id")
    },
    // m4 — pixel-level media features from the REAL javax.imageio
    // decode: exact min/max and mean luminance in integer milli-units
    Query("m4_media_features",
      """WITH d AS (
        |  SELECT doc_id AS media_id,
        |    CAST(16 + doc_id % 17 AS BIGINT) AS w,
        |    CAST(16 + (3 * doc_id + 5) % 13 AS BIGINT) AS h,
        |    CAST(doc_id % 256 AS BIGINT) AS a,
        |    CAST((7 * doc_id + 13) % 256 AS BIGINT) AS b
        |  FROM documents)
        |SELECT media_id,
        |  CAST(w * h AS BIGINT) AS n_px,
        |  least(a, b) AS px_min, greatest(a, b) AS px_max,
        |  CAST((h * ((w // 2) * a + (w - w // 2) * b) * 1000) // (w * h) AS BIGINT) AS mean_milli
        |FROM d ORDER BY media_id""".stripMargin) { (s, dir) =>
      Multimodal.pixelFeatures(
        Multimodal.decodeImageBatched(
          Multimodal.synthesizePngPayload(Tables.documents(s, dir), "doc_id")))
        .orderBy("media_id")
    },
    // m5 — REAL audio decode: genuine RIFF/WAVE bytes
    // (AudioSystem.write) flow through the binary column and
    // javax.sound.sampled parses the PCM frames back in the batched
    // mapPartitions; the oracle replays the synthesis formulas in
    // closed form, so a wrong decode fails the hash match. Container
    // byte size is excluded (header layout is encoder-dependent);
    // pcm_bytes = frames × channels × 2 is exact.
    Query("m5_audio_decode",
      """WITH d AS (
        |  SELECT doc_id AS media_id,
        |    CAST(1 + doc_id % 2 AS BIGINT) AS ch,
        |    CAST(8000 * (1 + doc_id % 3) AS BIGINT) AS sr,
        |    CAST(256 + (5 * doc_id + 7) % 128 AS BIGINT) AS nf,
        |    CAST((37 * doc_id + 11) % 30000 AS BIGINT) AS a,
        |    CAST((53 * doc_id + 29) % 30000 AS BIGINT) AS b
        |  FROM documents)
        |SELECT media_id,
        |  CAST(nf * ch * 2 AS BIGINT) AS pcm_bytes,
        |  ch AS channels, sr AS sample_rate, nf AS n_frames,
        |  CAST((nf * 1000) // sr AS BIGINT) AS duration_ms,
        |  CAST(ch * ((nf // 2) * a - (nf - nf // 2) * b) AS BIGINT) AS amp_sum,
        |  CAST(-b AS BIGINT) AS amp_min, a AS amp_max
        |FROM d ORDER BY media_id""".stripMargin) { (s, dir) =>
      Multimodal.decodeAudioBatched(
        Multimodal.synthesizeWavPayload(Tables.documents(s, dir), "doc_id"))
        .select("media_id", "pcm_bytes", "channels", "sample_rate", "n_frames",
          "duration_ms", "amp_sum", "amp_min", "amp_max")
        .orderBy("media_id")
    },
    // m7 — windowed audio FEATURE EXTRACTION over the real decode
    // (the VAD/segmentation energy signal): each clip's PCM cuts into
    // 100-frame windows inside the same batched mapPartitions pass —
    // one decode per clip, a per-window fan-out, zero shuffles. The
    // oracle replays the exact integer window energies in closed form.
    // closed-form replay of the windowed energies: window w covers
    // frames [w*100, min(nf, w*100+100)); the first nf//2 frames
    // hold sample a, the rest -b, identical across channels, so
    // window energy = ch*(na*a^2 + nb*b^2) exactly
    Query("m7_audio_windows",
      """WITH d AS (
        |  SELECT doc_id AS media_id,
        |    CAST(1 + doc_id % 2 AS BIGINT) AS ch,
        |    CAST(256 + (5 * doc_id + 7) % 128 AS BIGINT) AS nf,
        |    CAST((37 * doc_id + 11) % 30000 AS BIGINT) AS a,
        |    CAST((53 * doc_id + 29) % 30000 AS BIGINT) AS b
        |  FROM documents),
        |w AS (
        |  SELECT *, unnest(generate_series(0, (nf - 1) // 100)) AS widx FROM d),
        |c AS (
        |  SELECT media_id, ch, a, b, widx, widx * 100 AS lo,
        |    least(nf, widx * 100 + 100) AS hi, nf // 2 AS half
        |  FROM w),
        |e AS (
        |  SELECT media_id, widx, ch * (hi - lo) AS n_samples,
        |    ch * (greatest(0, least(hi, half) - lo) * a * a +
        |      (hi - lo - greatest(0, least(hi, half) - lo)) * b * b) AS energy
        |  FROM c)
        |SELECT media_id, CAST(widx AS BIGINT) AS window_idx,
        |  CAST(n_samples AS BIGINT) AS n_samples, CAST(energy AS BIGINT) AS energy
        |FROM e ORDER BY media_id, window_idx""".stripMargin) { (s, dir) =>
      Multimodal.audioEnergyWindows(
        Multimodal.synthesizeWavPayload(Tables.documents(s, dir), "doc_id"),
        windowFrames = 100)
        .orderBy("media_id", "window_idx")
    },
    // m6 — REAL video decode: genuine RIFF/AVI containers of
    // Motion-PNG frames flow through the binary column; the decoder
    // walks the chunk tree per the public AVI spec and ImageIO-decodes
    // EVERY frame (band values vary per frame, so a first-frame-only
    // or header-only decode fails the px oracle). The oracle replays
    // the synthesis formulas in closed form.
    // closed-form replay of the AVI synthesis: per-frame band values
    // summed over every frame — a decoder that skips frames or reads
    // only headers diverges
    Query("m6_video_decode",
      """WITH d AS (
        |  SELECT doc_id AS media_id,
        |    CAST(3 + doc_id % 4 AS BIGINT) AS nf,
        |    CAST(5 + doc_id % 3 AS BIGINT) AS fps,
        |    CAST(16 + doc_id % 9 AS BIGINT) AS w,
        |    CAST(16 + (3 * doc_id + 5) % 7 AS BIGINT) AS h
        |  FROM documents),
        |f AS (
        |  SELECT media_id, nf, fps, w, h, unnest(generate_series(0, nf - 1)) AS fr
        |  FROM d),
        |fb AS (
        |  SELECT *, (31 * media_id + 17 * fr + 3) % 256 AS a,
        |    (53 * media_id + 29 * fr + 7) % 256 AS b
        |  FROM f),
        |agg AS (
        |  SELECT media_id,
        |    SUM(h * ((w // 2) * a + (w - w // 2) * b)) AS px_sum,
        |    MIN(LEAST(a, b)) AS px_min, MAX(GREATEST(a, b)) AS px_max
        |  FROM fb GROUP BY media_id)
        |SELECT d.media_id, nf AS n_frames, w AS width, h AS height, fps,
        |  CAST((nf * (1000000 // fps)) // 1000 AS BIGINT) AS duration_ms,
        |  CAST(px_sum AS BIGINT) AS px_sum,
        |  CAST(px_min AS BIGINT) AS px_min, CAST(px_max AS BIGINT) AS px_max
        |FROM d JOIN agg USING (media_id) ORDER BY media_id""".stripMargin) { (s, dir) =>
      Multimodal.decodeVideoBatched(
        Multimodal.synthesizeAviPayload(Tables.documents(s, dir), "doc_id"))
        .select("media_id", "n_frames", "width", "height", "fps",
          "duration_ms", "px_sum", "px_min", "px_max")
        .orderBy("media_id")
    }
  )
}
