package graft
package gates

import graft.operators.Multimodal

/** Media gates with real codecs: PNG via ImageIO, WAV via the
  * hand-rolled RIFF parser, video via ImageIO's multi-frame
  * animated-GIF reader. Payload content is planted doc_id arithmetic,
  * so the oracles replay every decoded value without a codec (see
  * [[operators.Multimodal]]).
  */
object MediaGates {

  val gates: Seq[Gate] = Seq(
    // media_meta stays deliberately LIVE (fresh encode per run, the
    // d=2 fuzzy-gate convention) so the sweep keeps measuring the
    // encode→decode round trip; the other six media gates read the
    // session-staged payload table (MediaStage, round 15 — encoded
    // once per (session, dir), the family's parquet handoff shape)
    Gate("media_meta", (s, dir) =>
      Multimodal.realMediaMeta(s,
        Multimodal.realMedia(Tables.documents(s, dir))),
      // REAL-codec gates: payload content is planted doc_id arithmetic
      // (image w = 8 + d%9, h = 6 + d%7, gray pixel
      // v(i) = (d*7 + i*11) % 256; audio n = 40 + d%37 samples,
      // s(i) = (d*13 + i*17) % 256; video = 16x9 animated GIF with
      // 1 + d%9 frames, frame f pixel v(f,i) = (d*7 + f*19 + i*11) % 256),
      // so the oracle replays every DECODED value without a codec — if
      // ImageIO (PNG or GIF) or the WAV parser returned anything else,
      // the hash compare fails
      s"""SELECT doc_id AS media_id,
         |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |  CAST(CASE doc_id % 3 WHEN 0 THEN 8 + doc_id % 9
         |       WHEN 1 THEN 40 + doc_id % 37 ELSE 16 END AS BIGINT) AS width,
         |  CAST(CASE doc_id % 3 WHEN 0 THEN 6 + doc_id % 7
         |       WHEN 1 THEN 1 ELSE 9 END AS BIGINT) AS height,
         |  CAST(CASE doc_id % 3 WHEN 2 THEN 1 + doc_id % 9 ELSE 1 END AS BIGINT) AS n_frames
         |FROM documents ORDER BY media_id""".stripMargin),
    Gate("media_feature_stats", (s, dir) =>
      Multimodal.realFeatureStats(s, graft.sources.MediaStage.media(s, dir)),
      // video sig (round 14, real GIF decode): pixel sum over ALL
      // 1 + d%9 frames of the 144-pixel raster, frame f's pixel i being
      // (d*7 + f*19 + i*11) % 256 — folded as one range over f*144 + i
      s"""WITH d AS (SELECT doc_id,
         |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |    8 + doc_id % 9 AS iw, 6 + doc_id % 7 AS ih,
         |    40 + doc_id % 37 AS an
         |  FROM documents),
         |v AS (SELECT kind,
         |    CASE doc_id % 3 WHEN 0 THEN iw WHEN 1 THEN an ELSE 16 END AS w,
         |    CASE doc_id % 3 WHEN 0 THEN ih WHEN 1 THEN 1 ELSE 9 END AS h,
         |    CASE doc_id % 3 WHEN 2 THEN 1 + doc_id % 9 ELSE 1 END AS f,
         |    CASE doc_id % 3
         |      WHEN 0 THEN list_sum(list_transform(range(iw*ih), i ->
         |        (doc_id*7 + i*11) % 256))
         |      WHEN 1 THEN list_sum(list_transform(range(an), i ->
         |        abs((doc_id*13 + i*17) % 256 - 128)))
         |      ELSE list_sum(list_transform(range((1 + doc_id % 9) * 144), i ->
         |        (doc_id*7 + (i // 144)*19 + (i % 144)*11) % 256)) END AS sig
         |  FROM d)
         |SELECT kind, count(*) AS n,
         |  CAST(sum(w) AS BIGINT) AS sum_width,
         |  CAST(sum(h) AS BIGINT) AS sum_height,
         |  CAST(sum(f) AS BIGINT) AS sum_frames,
         |  CAST(sum(sig) AS BIGINT) AS sum_sig
         |FROM v GROUP BY kind ORDER BY kind""".stripMargin),
    // VAD-style audio screen: per-item frame energy + silent-run
    // profile over REAL decoded WAV samples
    Gate("media_silence_profile", (s, dir) =>
      Multimodal.realSilenceProfile(s,
        graft.sources.MediaStage.mediaOfKind(s, dir, 1)),
      // the full WAV decode -> frame-energy -> run-length pipeline
      // replayed from the planted sample formula: energy is sum |s-128|
      // per 16-sample frame, silent < 1024, runs via gaps-and-islands
      s"""WITH m AS (SELECT doc_id AS media_id, 40 + doc_id % 37 AS nb
         |  FROM documents WHERE doc_id % 3 = 1),
         |f AS (SELECT media_id, fi,
         |    list_sum(list_transform(range(16), j ->
         |      abs((media_id*13 + (fi*16 + j)*17) % 256 - 128))) AS e
         |  FROM m, LATERAL (SELECT unnest(range(nb // 16)) AS fi) r),
         |fl AS (SELECT media_id, fi, e, e < 1024 AS s FROM f),
         |runs AS (SELECT media_id, count(*)::BIGINT AS rl FROM (
         |    SELECT media_id, fi,
         |      fi - row_number() OVER (PARTITION BY media_id ORDER BY fi) AS g
         |    FROM fl WHERE s) GROUP BY media_id, g),
         |mr AS (SELECT media_id, max(rl) AS max_run FROM runs GROUP BY 1),
         |agg AS (SELECT media_id, count(*)::BIGINT AS n_frames,
         |    count(*) FILTER (WHERE s)::BIGINT AS n_silent,
         |    CAST(sum(e) AS BIGINT) AS total_energy
         |  FROM fl GROUP BY 1)
         |SELECT a.media_id, n_frames, n_silent,
         |  coalesce(max_run, 0)::BIGINT AS max_silent_run, total_energy
         |FROM agg a LEFT JOIN mr USING (media_id)
         |ORDER BY media_id""".stripMargin),
    // perceptual-hash (aHash) near-dup over DECODED pixels, planted
    // clone + one-pixel-perturbed pairs
    Gate("media_phash_neardup", (s, dir) =>
      Multimodal.realPhashNearDup(s,
        graft.sources.MediaStage.mediaOfKind(s, dir, 0)),
      // aHash over DECODED gray pixels (60 balanced blocks vs global
      // mean, integer cross-multiply), 4x15-bit pigeonhole bands,
      // bit_count(xor) verify; plants: exact pixel clones at +10M
      // (image docs, %29), one-pixel +128 perturbations at +20M (%31)
      s"""WITH im AS (SELECT doc_id, (8 + doc_id % 9) * (6 + doc_id % 7) AS L
         |            FROM documents WHERE doc_id % 3 = 0),
         |px AS (SELECT doc_id, L,
         |        list_transform(range(L), i -> (doc_id*7 + i*11) % 256) AS vs
         |       FROM im),
         |aug AS (
         |  SELECT doc_id, L, vs FROM px
         |  UNION ALL SELECT doc_id + 10000000, L, vs FROM px WHERE doc_id % 29 = 0
         |  UNION ALL SELECT doc_id + 20000000, L,
         |    list_prepend((vs[1] + 128) % 256, vs[2:]) AS vs
         |  FROM px WHERE doc_id % 31 = 0),
         |b AS (SELECT doc_id, (i * 60) // L AS j,
         |        vs[CAST(i + 1 AS INT)] AS v, L
         |      FROM aug, LATERAL (SELECT unnest(range(0, L)) AS i) r),
         |tot AS (SELECT doc_id, CAST(sum(v) AS BIGINT) AS ts, any_value(L) AS L
         |        FROM b GROUP BY 1),
         |blk AS (SELECT doc_id, j, CAST(sum(v) AS BIGINT) AS s, count(*)::BIGINT AS c
         |        FROM b GROUP BY 1, 2),
         |hsh AS (SELECT blk.doc_id,
         |          CAST(sum(CASE WHEN s * t.L > ts * c
         |            THEN 1::BIGINT << CAST(59 - j AS INT) ELSE 0 END) AS BIGINT) AS ahash
         |        FROM blk JOIN tot t ON blk.doc_id = t.doc_id GROUP BY 1),
         |bd AS (SELECT doc_id, ahash, bb, (ahash >> CAST(15 * bb AS INT)) & 32767 AS key
         |       FROM hsh, LATERAL (SELECT unnest(range(4)) AS bb) r),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
         |           a.ahash AS ha, c.ahash AS hb
         |         FROM bd a JOIN bd c ON a.bb = c.bb AND a.key = c.key
         |           AND a.doc_id < c.doc_id)
         |SELECT id_a, id_b, bit_count(xor(ha, hb))::BIGINT AS hamming
         |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
         |ORDER BY id_a, id_b""".stripMargin),
    // resize pipeline: REAL ImageIO decode → nearest-neighbor resample
    // to 4×3 → re-encode → re-decode (dims + pixel sum oracle-pinned)
    Gate("media_resize", (s, dir) =>
      Multimodal.realResize(s, graft.sources.MediaStage.media(s, dir)),
      // the image rows are the REAL decode → 4×3 nearest-neighbor
      // resample → re-encode → re-decode round trip; the resampled pixel
      // sum replays the truncating source mapping src = (dst·srcDim) div
      // dstDim over the planted pixel formula
      s"""WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS iw, 6 + doc_id % 7 AS ih
         |           FROM documents)
         |SELECT doc_id AS media_id,
         |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |  CAST(CASE doc_id % 3 WHEN 0 THEN 4
         |       WHEN 1 THEN 40 + doc_id % 37 ELSE 16 END AS BIGINT) AS width,
         |  CAST(CASE doc_id % 3 WHEN 0 THEN 3
         |       WHEN 1 THEN 1 ELSE 9 END AS BIGINT) AS height,
         |  CAST(CASE doc_id % 3 WHEN 0 THEN
         |      list_sum(list_transform(range(12), i ->
         |        (doc_id*7 + (((i // 4) * ih // 3) * iw + ((i % 4) * iw // 4)) * 11) % 256))
         |    ELSE 0 END AS BIGINT) AS sig
         |FROM d ORDER BY media_id""".stripMargin),
    Gate("media_frame_sample", (s, dir) =>
      Multimodal.realFrameSample(s,
        graft.sources.MediaStage.mediaOfKind(s, dir, 2)),
      // every 2nd GENUINELY decoded GIF frame; frame_sig replays the
      // planted per-frame pixel formula v(f, i) = (d*7 + f*19 + i*11)%256
      // over the 16x9 = 144-pixel raster — a wrong frame count, order,
      // or pixel anywhere in the real decode breaks the hash
      s"""SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_idx,
         |  CAST(list_sum(list_transform(range(144), i ->
         |    (doc_id*7 + f*19 + i*11) % 256)) AS BIGINT) AS frame_sig
         |FROM documents, LATERAL (SELECT unnest(range(0, 1 + doc_id % 9, 2)) AS f) r
         |WHERE CAST(doc_id % 3 AS INT) = 2
         |ORDER BY media_id, frame_idx""".stripMargin),
    // cross-modal retrieval: text-tower embeddings vs the DECODED-pixel
    // image tower, integer dot product, top-3 per query
    Gate("media_crossmodal_topk", (s, dir) =>
      Multimodal.realCrossmodalTopk(s,
        graft.sources.MediaStage.mediaOfKind(s, dir, 0),
        Tables.embeddings(s, dir)),
      s"""WITH f AS (SELECT doc_id AS media_id,
         |        list_transform(range(16), i ->
         |          CAST((doc_id*7 + i*11) % 256 AS BIGINT)) AS fv
         |      FROM documents WHERE CAST(doc_id % 3 AS INT) = 0),
         |q AS (SELECT vec_id, list_transform(list_slice(embedding, 1, 16),
         |        x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS qv
         |      FROM embeddings WHERE vec_id < 20 AND len(embedding) >= 16),
         |s AS (SELECT q.vec_id, f.media_id,
         |        CAST(list_sum(list_transform(range(1, 17), i -> qv[i] * fv[i]))
         |          AS BIGINT) AS score
         |      FROM q CROSS JOIN f),
         |r AS (SELECT vec_id, media_id, score, row_number() OVER (
         |        PARTITION BY vec_id ORDER BY score DESC, media_id) AS rk
         |      FROM s)
         |SELECT vec_id, CAST(rk AS BIGINT) AS rk, media_id, score
         |FROM r WHERE rk <= 3 ORDER BY vec_id, rk""".stripMargin))
}
