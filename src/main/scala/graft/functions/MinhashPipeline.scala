package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.functions.DedupConfig.{K, Bands, Rpb, JaccThreshold, sizeRatioOk}
import graft.operators.MinhashIndex

/** The shared front end of the persistent-index MinHash dedup family —
  * q99's batch index, q108's production-granularity self-join, and
  * q109's streaming epochs all sign/band documents the same way, and
  * their DuckDB oracles replay the identical derivation in SQL. One
  * definition here so a retune (K, band layout, hash constants) can
  * never make the engine and its oracles drift apart. Tuning constants
  * live in [[DedupConfig]]; the native expressions in
  * [[TextFunctions]].
  *
  * Reference anchor: the verify-before-insert upsert contract of
  * `VariantLoad3.saveVariants:479-589` is what these indexes model at
  * corpus scale (candidate lookup + exact verify + insert-novel-only).
  */
object MinhashPipeline {

  /** Sorted shingle-hash list + MinHash signature for a
    * (doc_id, lang, text) frame. `hl` is kept SORTED so verify is the
    * native allocation-free two-pointer `sorted_inter_count`;
    * shingling is the native one-pass `shingle_hashes` (no shingle
    * strings, no bitmap dictionary). */
  def signedDocs(df: DataFrame): DataFrame = df
    .select(col("doc_id"), col("lang"),
      sort_array(array_distinct(TF.shingleHashes(col("text")))).as("hl"))
    .withColumn("sz", size(col("hl")).cast("long"))
    .filter(col("sz") > 0)
    .withColumn("sig", TF.minhashSignatureNative(col("hl"), K))

  /** Word-bigram signing — the PRODUCTION shingle granularity (Lee et
    * al., "Deduplicating Training Data Makes Language Models Better":
    * shingle on word n-grams; char 3-grams keep inter-document Jaccard
    * high on ANY corpus because real text shares the common trigrams).
    * Elements are hashed `tok tok` bigram strings (q92's scheme); `hl`
    * is kept SORTED so verify is the native allocation-free two-pointer
    * `sorted_inter_count`. One definition for q108 (uncapped band
    * self-join) and q127 (hot-bucket-controlled form) so a retune can
    * never drift the two apart; [[minhashWordCtes]] is the oracle
    * mirror. Output (doc_id, <passthru>, hl, sz, sig) — [[signedDocs]]'s
    * shape minus `lang`, so [[bandKeysOf]]/[[capBands]] compose
    * unchanged. `passthru` names extra input columns to carry through
    * (r16: q108's class-blocked form rides its class doc-id list). */
  def signedDocsWord(df: DataFrame, passthru: Seq[String] = Nil): DataFrame = {
    val keep = (col("doc_id") +: passthru.map(col)) :+
      TF.tokens(lower(col("text"))).as("t")
    val kept = col("doc_id") +: passthru.map(col)
    df.select(keep: _*)
      .filter(size(col("t")) >= 2)
      .select(kept :+ sort_array(array_distinct(
        transform(sequence(lit(1), size(col("t")) - 1),
          i => TF.polyHash(concat(element_at(col("t"), i), lit(" "),
            element_at(col("t"), i + 1)))))).as("hl"): _*)
      .withColumn("sz", size(col("hl")).cast("long"))
      .withColumn("sig", TF.minhashSignatureNative(col("hl"), K))
  }

  /** DuckDB CTE block replaying the WORD-BIGRAM derivation of
    * [[signedDocsWord]] + [[bandKeysOf]] for `src` (doc_id, text) under
    * `prefix` — emits `{prefix}docs(doc_id, hl, sz)` and
    * `{prefix}bands(doc_id, bkey)`, the same contract as
    * [[minhashCtes]], so [[capBandsCte]] composes on either
    * granularity. */
  def minhashWordCtes(prefix: String, src: String): String = {
    val sigCols = (0 until K).map(i =>
      s"list_min(list_transform(hl, h -> (${TF.minhashA(i)} * h + ${TF.minhashB(i)}) % ${TF.MinhashPrime})) AS m$i")
      .mkString(",\n    ")
    val bandSelects = (0 until Bands).map { b =>
      val key = (0 until Rpb).map(r => s"m${b * Rpb + r}")
        .reduce((acc, m) => s"($acc * 31 + $m)")
      s"SELECT doc_id, ($key) * $Bands + $b AS bkey FROM ${prefix}sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""${prefix}docs AS (
       |  SELECT doc_id, hl, CAST(len(hl) AS BIGINT) AS sz FROM (
       |    SELECT doc_id, list_distinct(list_transform(
       |      [t[i] || ' ' || t[i + 1] FOR i IN generate_series(1, len(t) - 1)],
       |      s -> list_reduce(
       |        list_prepend(CAST(0 AS BIGINT),
       |          list_transform(string_split_regex(s, ''), c -> CAST(ascii(c) AS BIGINT))),
       |        (acc, x) -> (acc * 31 + x) % ${TF.HashMod}))) AS hl
       |    FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
       |          FROM $src)
       |    WHERE len(t) >= 2)),
       |${prefix}sig AS (SELECT doc_id, $sigCols FROM ${prefix}docs),
       |${prefix}bands AS (
       |  $bandSelects)""".stripMargin
  }

  /** CLASS-level variant of [[minhashWordCtes]] (r15): signatures,
    * band keys, and jaccard depend only on a document's TEXT, so docs
    * with identical text form one class and the quadratic band
    * self-join can run over class representatives (~n/10 classes on
    * gen_sf's copy-amplified corpora) and re-expand qualifying class
    * pairs to doc pairs. Emits `{prefix}cls(rid, dids, hl, sz)` (one
    * row per distinct text passing the >= 2-token filter; `rid` =
    * min doc_id, `dids` = sorted doc ids) and `{prefix}bands(rid,
    * bkey)`. Same derivation expressions as [[minhashWordCtes]],
    * evaluated once per class. */
  def minhashWordClassCtes(prefix: String, src: String): String = {
    val sigCols = (0 until K).map(i =>
      s"list_min(list_transform(hl, h -> (${TF.minhashA(i)} * h + ${TF.minhashB(i)}) % ${TF.MinhashPrime})) AS m$i")
      .mkString(",\n    ")
    val bandSelects = (0 until Bands).map { b =>
      val key = (0 until Rpb).map(r => s"m${b * Rpb + r}")
        .reduce((acc, m) => s"($acc * 31 + $m)")
      s"SELECT rid, ($key) * $Bands + $b AS bkey FROM ${prefix}sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""${prefix}dt AS MATERIALIZED (
       |  SELECT text, list_sort(list(doc_id)) AS dids, min(doc_id) AS rid
       |  FROM $src GROUP BY text),
       |${prefix}cls AS MATERIALIZED (
       |  SELECT rid, dids, hl, CAST(len(hl) AS BIGINT) AS sz FROM (
       |    SELECT rid, dids, list_distinct(list_transform(
       |      [t[i] || ' ' || t[i + 1] FOR i IN generate_series(1, len(t) - 1)],
       |      s -> list_reduce(
       |        list_prepend(CAST(0 AS BIGINT),
       |          list_transform(string_split_regex(s, ''), c -> CAST(ascii(c) AS BIGINT))),
       |        (acc, x) -> (acc * 31 + x) % ${TF.HashMod}))) AS hl
       |    FROM (SELECT rid, dids, string_split_regex(trim(lower(text)), '\\s+') AS t
       |          FROM ${prefix}dt)
       |    WHERE len(t) >= 2)),
       |${prefix}sig AS (SELECT rid, $sigCols FROM ${prefix}cls),
       |${prefix}bands AS (
       |  $bandSelects)""".stripMargin
  }

  /** Exploded LSH band keys combined into ONE collision-free long
    * (band_key < 2^31 * 31^3, so `* Bands + band_idx` is injective):
    * single-column bucket spec == single-column join key. Input needs
    * a `sig` column (from [[signedDocs]]); output (doc_id, <passthru>,
    * bkey). */
  def bandKeysOf(df: DataFrame, passthru: Seq[String] = Nil): DataFrame = {
    val keep = col("doc_id") +: passthru.map(col)
    df.select(keep :+ posexplode(array((0 until Bands).map(b =>
        TF.bandKey(col("sig"), b, Rpb)): _*)).as(Seq("band_idx", "band_key")): _*)
      .select(keep :+ (col("band_key") * Bands + col("band_idx")).as("bkey"): _*)
  }

  /** HOT-BUCKET CONTROL for the LSH band self-join: a band bucket of
    * m docs contributes m·(m-1)/2 candidate pairs, and on
    * boilerplate-dense content m explodes (q41 engine-only sf1:
    * 891 s from ~20.5M candidates, artifacts/r9_engine_sf1.json —
    * and at 100 TB boilerplate shards ARE that pathology). Naive
    * truncation is the wrong fix: the hot buckets are exactly where
    * exact-copy families land, so cutting them cuts the true
    * duplicates. (Splitting by MINHASH-SIGNATURE hash fails the same
    * way on degenerate content: measured on the sf0.01 corpus, 572
    * docs share 8 distinct full signatures — a signature cannot
    * split what it cannot distinguish.) Instead, a bucket exceeding
    * `cap` members is SPLIT by CONTENT FINGERPRINT (`sg`, a fold of
    * the full sorted shingle-hash list `hl`): docs with an identical
    * shingle SET — exact copies and J=1.0 rewrites — stay co-grouped
    * and their pairs survive; everything else in the hot bucket is
    * separated and generates no candidates. An over-cap bucket thus
    * degrades gracefully from NEAR-dup to EXACT(-set)-dup detection —
    * the production tradeoff: boilerplate buckets are dominated by
    * literal copies, and the sub-1.0 pairs that only ever collide in
    * hot bands are the measured recall cost
    * (artifacts/r10_hotcap_quality.json). Each (bucket, group) is
    * additionally capped at the `cap` lowest doc_ids (deterministic
    * tie-break, replayed by [[capBandsCte]]) as the hard bound for
    * monster copy-families, so a hot bucket's candidates are
    * O(m·cap) instead of O(m²). Output (doc_id, bkey, grp):
    * self-join on (bkey, grp). 100 TB: both windows partition by
    * bkey(, grp) — the band join's own shuffle key — so candidate
    * generation still costs ONE exchange. */
  def capBands(wsig: DataFrame, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bands = bandKeysOf(wsig.withColumn("sg", contentFp(col("hl"))),
      passthru = Seq("sg"))
    val hot = count(lit(1)).over(Window.partitionBy(col("bkey"))) > cap
    bands
      .withColumn("grp", when(hot, col("sg")).otherwise(lit(0L)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("bkey"), col("grp")).orderBy(col("doc_id"))))
      .filter(col("rn") <= cap)
      .select(col("doc_id"), col("bkey"), col("grp"))
  }

  /** Oracle mirror of [[capBands]] over `{prefix}bands`/`{prefix}docs`
    * (from [[minhashCtes]]) — emits `{out}cap(doc_id, bkey, grp)`
    * (`out` defaults to `prefix`; a non-default `out` lets several cap
    * rungs share ONE band/doc derivation — the q135 ladder). The
    * fingerprint folds the SORTED hl (the engine's `hl` is sorted by
    * construction; minhashCtes' is distinct-but-unsorted). */
  def capBandsCte(prefix: String, cap: Int, out: String = ""): String = {
    val o = if (out.isEmpty) prefix else out
    val fold = s"""list_reduce(list_prepend(CAST(0 AS BIGINT), list_sort(hl)),
       |        (a, x) -> (a * 31 + x) % ${TF.HashMod})""".stripMargin
    s"""${o}sg AS (SELECT doc_id, $fold AS sg FROM ${prefix}docs),
       |${o}cap AS (
       |  SELECT doc_id, bkey, grp FROM (
       |    SELECT doc_id, bkey, grp,
       |      row_number() OVER (PARTITION BY bkey, grp ORDER BY doc_id) AS rn
       |    FROM (
       |      SELECT b.doc_id, b.bkey,
       |        CASE WHEN count(*) OVER (PARTITION BY b.bkey) > $cap
       |             THEN s.sg ELSE 0 END AS grp
       |      FROM ${prefix}bands b JOIN ${o}sg s USING (doc_id)))
       |  WHERE rn <= $cap)""".stripMargin
  }

  /** Content fingerprint of a shingle-hash list: a left fold of the
    * SORTED list — identical shingle SETS (exact copies and J=1.0
    * rewrites) share it; differing content almost surely doesn't. The
    * hot-bucket split key of [[capBands]] (band self-join) and
    * [[verifiedDupPairsCapped]] (wave-vs-index join). Input must be
    * sorted ([[signedDocs]]' `hl` is, by construction). */
  def contentFp(hl: Column): Column =
    aggregate(hl, lit(0L), (a, x) => (a * 31 + x) % TF.HashMod)

  /** Verified near-duplicate PAIRS of a signed wave against the
    * persistent bucketed index — the ENGINE side of the
    * verify-before-insert contract, one definition for the whole index
    * lifecycle (q99 build, q109 stream, q110 compact, q112 retract;
    * each carried an inline copy until r9 — exactly the retune-drift
    * hazard this object exists to prevent). Shape: band-key equi-join
    * for candidates (the index side enters exchange-free from its
    * bucketed scan), size-ratio necessary-condition prune BEFORE the
    * intersect, then the native allocation-free two-pointer
    * `sorted_inter_count` exact-Jaccard verify. Returns one row per
    * surviving (w_id, idx_id) candidate pair; [[verifiedDupCte]] is
    * the oracle-side mirror.
    *
    * `wsig` must come from [[signedDocs]] (sorted `hl`) and should be
    * materialized by the caller (localCheckpoint) — it feeds both the
    * banding and the verify join here, plus whatever the caller does
    * with the result. */
  def verifiedDupPairs(wsig: DataFrame, h: MinhashIndex.Handle): DataFrame = {
    val cand = bandKeysOf(wsig).withColumnRenamed("doc_id", "w_id")
      .join(h.spark.table(h.bandTable), "bkey") // index side exchange-free
      .select(col("w_id"), col("doc_id").as("idx_id"))
      .distinct()
    verifyPairs(cand, wsig, h.docTable)
  }

  /** The exact-Jaccard verify tail shared by [[verifiedDupPairs]] and
    * [[verifiedDupPairsCapped]]: size-ratio prune, then the native
    * two-pointer `sorted_inter_count` on (w_id, idx_id) candidates. */
  private def verifyPairs(cand: DataFrame, wsig: DataFrame,
                          docTable: String): DataFrame =
    cand
      .join(wsig.sparkSession.table(docTable).select(col("doc_id").as("idx_id"),
        col("hl").as("hl_i"), col("sz").as("sz_i")), "idx_id")
      .join(wsig.select(col("doc_id").as("w_id"), col("hl").as("hl_w"),
        col("sz").as("sz_w")), "w_id")
      .filter(sizeRatioOk(col("sz_w"), col("sz_i")))
      .withColumn("inter",
        call_function("sorted_inter_count", col("hl_w"), col("hl_i")))
      .filter(expr(s"inter * 1000 DIV (sz_w + sz_i - inter) >= $JaccThreshold"))
      .select(col("w_id"), col("idx_id"))

  /** HOT-BUCKET CONTROL for the wave-vs-INDEX candidate join — the
    * production form of [[verifiedDupPairs]] for copy-dense corpora.
    *
    * The r16 scaling study (artifacts/r16_scaling_study.md) measured
    * the uncapped wave-vs-index band join as the LAST super-linear
    * candidate generator in the engine: a band bucket holding m index
    * docs pairs EVERY colliding wave doc with all m, so when exact-copy
    * families grow with the corpus (boilerplate at 100 TB; the gen_sf
    * scale-ups by construction), candidates grow ∝ family², and
    * q109/q110 measured walls ∝ scale^1.3 where their capped siblings
    * (q121/q127) hold ~linear. Same cure as [[capBands]], adapted to
    * the two-sided join:
    *
    *  - the INDEX side of a bucket whose occupancy exceeds `cap` is
    *    SPLIT by content fingerprint ([[contentFp]]) and each
    *    (bkey, grp) group kept to the `cap` lowest doc_ids — exact-copy
    *    families stay findable (any member represents the family),
    *    differing-content boilerplate collisions stop pairing;
    *  - each WAVE row computes the same group key — its own fp when
    *    the bucket is hot (from an index-side occupancy count), else 0
    *    — so the equi-join key becomes (bkey, grp) and a hot bucket's
    *    candidates are O(wave·cap), never O(wave·m);
    *  - a wave doc in a hot bucket therefore matches only its own
    *    exact-set family there — the measured degrade-to-exact-dup
    *    tradeoff of [[capBands]], priced by the q138 gate.
    *
    * Scale shape: the band table (bucketed on bkey) feeds BOTH the
    * occupancy count and the windowed cap EXCHANGE-FREE (window/agg
    * partition keys = the bucket key); the wave pays its one bkey
    * shuffle, which the (bkey, grp) join then reuses (bkey alone
    * co-locates every (bkey, grp) key). Requires the band table to
    * carry an `sg` = [[contentFp]] column (create the index from
    * `sig.withColumn("sg", contentFp($"hl"))` with `bandExtra =
    * Seq("sg")`).
    * [[verifiedDupCappedCte]] is the oracle mirror. */
  def verifiedDupPairsCapped(wsig: DataFrame, h: MinhashIndex.Handle,
                             cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ib = h.spark.table(h.bandTable) // (doc_id, bkey, sg), bucketed on bkey
    val hot = count(lit(1)).over(Window.partitionBy(col("bkey"))) > cap
    val idx = ib
      .withColumn("grp", when(hot, col("sg")).otherwise(lit(0L)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("bkey"), col("grp")).orderBy(col("doc_id"))))
      .filter(col("rn") <= cap)
      .select(col("doc_id").as("idx_id"), col("bkey"), col("grp"))
    val occ = ib.groupBy(col("bkey")).agg(count(lit(1)).as("occ"))
    val wb = bandKeysOf(wsig.withColumn("sg", contentFp(col("hl"))),
        passthru = Seq("sg"))
      .withColumnRenamed("doc_id", "w_id")
      .join(occ, Seq("bkey")) // inner: a bkey absent from the index has no candidates
      .withColumn("grp", when(col("occ") > cap, col("sg")).otherwise(lit(0L)))
      .select(col("w_id"), col("bkey"), col("grp"))
    val cand = wb.join(idx, Seq("bkey", "grp"))
      .select(col("w_id"), col("idx_id")).distinct()
    verifyPairs(cand, wsig, h.docTable)
  }

  /** The ACCEPT side of the capped contract — [[acceptAgainstIndex]]
    * with [[verifiedDupPairsCapped]] as the candidate generator. */
  def acceptAgainstIndexCapped(wsig: DataFrame, h: MinhashIndex.Handle,
                               cap: Int): DataFrame =
    wsig.join(
      verifiedDupPairsCapped(wsig, h, cap)
        .select(col("w_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")

  /** The ACCEPT side of the contract: wave docs with no verified match
    * in the index (these are what an epoch commit appends). Anti-join
    * keeps every `wsig` column, so staged novelties carry their
    * signature through to the commit. */
  def acceptAgainstIndex(wsig: DataFrame, h: MinhashIndex.Handle): DataFrame =
    wsig.join(
      verifiedDupPairs(wsig, h)
        .select(col("w_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")

  /** DuckDB CTE block replaying shingle → minhash → band derivation
    * for `src` (doc_id, lang, text) under `prefix` — the oracle-side
    * mirror of [[signedDocs]]/[[bandKeysOf]], shared by the q99 and
    * q109 oracles. Emits `{prefix}docs(doc_id, lang, hl, sz)` and
    * `{prefix}bands(doc_id, bkey)`. */
  def minhashCtes(prefix: String, src: String): String = {
    val sigCols = (0 until K).map(i =>
      s"list_min(list_transform(hl, h -> (${TF.minhashA(i)} * h + ${TF.minhashB(i)}) % ${TF.MinhashPrime})) AS m$i")
      .mkString(",\n    ")
    val bandSelects = (0 until Bands).map { b =>
      val key = (0 until Rpb).map(r => s"m${b * Rpb + r}")
        .reduce((acc, m) => s"($acc * 31 + $m)")
      s"SELECT doc_id, ($key) * $Bands + $b AS bkey FROM ${prefix}sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""${prefix}sh AS (
       |  SELECT doc_id, lang,
       |    list_distinct([substr(t, i, 3) FOR i IN generate_series(1, len(t) - 2)]) AS sh
       |  FROM (SELECT doc_id, lang, lower(text) AS t FROM $src)),
       |${prefix}docs AS (
       |  SELECT doc_id, lang, hl, CAST(len(hl) AS BIGINT) AS sz FROM (
       |    SELECT doc_id, lang, list_distinct(list_transform(sh, s ->
       |      CAST(((ascii(substr(s, 1, 1)) * 31 + ascii(substr(s, 2, 1))) * 31
       |            + ascii(substr(s, 3, 1))) % ${TF.HashMod} AS BIGINT))) AS hl
       |    FROM ${prefix}sh)
       |  WHERE len(hl) > 0),
       |${prefix}sig AS (SELECT doc_id, $sigCols FROM ${prefix}docs),
       |${prefix}bands AS (
       |  $bandSelects)""".stripMargin
  }

  /** One oracle-side LSH-candidate + exact-Jaccard verify pass:
    * distinct wave docs (`wPfx`) whose banded candidates against the
    * index (`idxDocs`/`idxBands`) survive the size-ratio prune and the
    * J*1000 >= threshold check — the SQL mirror of the engine's
    * band-join → `sorted_inter_count` verify. The 7:10 literals mirror
    * [[DedupConfig.sizeRatioOk]]. */
  def verifiedDupCte(wPfx: String, idxDocs: String, idxBands: String): String =
    s"""SELECT DISTINCT w_id FROM (
       |    SELECT c.w_id,
       |      CAST(len(list_intersect(wd.hl, id.hl)) AS BIGINT) AS inter,
       |      wd.sz AS sz_w, id.sz AS sz_i
       |    FROM (SELECT DISTINCT w.doc_id AS w_id, i.doc_id AS idx_id
       |          FROM ${wPfx}bands w JOIN $idxBands i ON w.bkey = i.bkey) c
       |    JOIN ${wPfx}docs wd ON wd.doc_id = c.w_id
       |    JOIN $idxDocs id ON id.doc_id = c.idx_id
       |    WHERE least(wd.sz, id.sz) * 10 >= greatest(wd.sz, id.sz) * 7)
       |  WHERE inter * 1000 // (sz_w + sz_i - inter) >= $JaccThreshold""".stripMargin

  /** Oracle mirror of [[verifiedDupPairsCapped]] +
    * [[acceptAgainstIndexCapped]]'s dup side: distinct wave docs with
    * a verified match through the HOT-BUCKET-CAPPED candidate join.
    * Index-side hot buckets (occupancy > cap) split by the content
    * fingerprint and keep the `cap` lowest doc_ids per (bkey, grp);
    * wave rows compute the same group key from the index occupancy.
    * The fold list_sorts `hl` because [[minhashCtes]]' lists are
    * distinct-but-unsorted (the engine's are sorted already) — same
    * convention as [[capBandsCte]]. */
  def verifiedDupCappedCte(wPfx: String, idxDocs: String,
                           idxBands: String, cap: Int): String = {
    val fold = s"""list_reduce(list_prepend(CAST(0 AS BIGINT), list_sort(hl)),
       |          (a, x) -> (a * 31 + x) % ${TF.HashMod})""".stripMargin
    s"""SELECT DISTINCT w_id FROM (
       |    SELECT c.w_id,
       |      CAST(len(list_intersect(wd.hl, id.hl)) AS BIGINT) AS inter,
       |      wd.sz AS sz_w, id.sz AS sz_i
       |    FROM (
       |      SELECT DISTINCT w.w_id, i.idx_id FROM (
       |        SELECT wb.doc_id AS w_id, wb.bkey,
       |          CASE WHEN o.occ > $cap THEN ws.sg ELSE 0 END AS grp
       |        FROM ${wPfx}bands wb
       |        JOIN (SELECT doc_id, $fold AS sg
       |              FROM ${wPfx}docs) ws ON ws.doc_id = wb.doc_id
       |        JOIN (SELECT bkey, count(*) AS occ
       |              FROM $idxBands GROUP BY 1) o ON o.bkey = wb.bkey
       |      ) w JOIN (
       |        SELECT doc_id AS idx_id, bkey, grp FROM (
       |          SELECT doc_id, bkey, grp,
       |            row_number() OVER (PARTITION BY bkey, grp ORDER BY doc_id) AS rn
       |          FROM (
       |            SELECT ib.doc_id, ib.bkey,
       |              CASE WHEN count(*) OVER (PARTITION BY ib.bkey) > $cap
       |                   THEN s.sg ELSE 0 END AS grp
       |            FROM $idxBands ib
       |            JOIN (SELECT doc_id, $fold AS sg
       |                  FROM $idxDocs) s ON s.doc_id = ib.doc_id))
       |        WHERE rn <= $cap
       |      ) i ON i.bkey = w.bkey AND i.grp = w.grp) c
       |    JOIN ${wPfx}docs wd ON wd.doc_id = c.w_id
       |    JOIN $idxDocs id ON id.doc_id = c.idx_id
       |    WHERE least(wd.sz, id.sz) * 10 >= greatest(wd.sz, id.sz) * 7)
       |  WHERE inter * 1000 // (sz_w + sz_i - inter) >= $JaccThreshold""".stripMargin
  }
}
