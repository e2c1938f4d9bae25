package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.Barrier
import graft.sql.Geo

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard refine, embedding-cosine near-dup.
  *
  * Scale shape: candidate generation is always an equi-join on a compact
  * key (text hash, LSH band, simhash band, LSH bucket) — never an all-pairs
  * product — and the exact refine runs only on candidates. */
object Dedup {

  /** Exact dedup: every row tagged with its duplicate-group representative
    * (min id over identical `textCol`). The window partitions by the SHA-256
    * of the text — identical groups, but the shuffle/sort key is 32 bytes
    * instead of the whole document (at 100 TB the rows still move, because
    * the operator returns them, but they are never compared by text). */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.withColumn("dup_rep",
      min(col(idCol)).over(
        Window.partitionBy(sha2(col(textCol).cast("binary"), 256))))

  /** Exact-dup pairs via hash-groupBy (no window): returns (id, dup_rep)
    * only for rows in groups of size > 1. The shuffle key is the SHA-256 of
    * the text, so only (32-byte hash, id) pairs move — at 100 TB the
    * documents themselves never leave the scan (the window variant must
    * move whole rows because it returns them).
    *
    * Duplicate ids are never materialized per-group: the aggregation keeps
    * only (hash, min-id, count) — constant-size buffers — and the ids
    * stream back through an equi-join on the hash. A mega-duplicated
    * document (empty string, boilerplate page: 10^8+ copies at 100 TB) is
    * one aggregation row, not one 10^8-element `collect_list` buffer. */
  def exactDupes(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keyed = df.select(
      sha2(col(textCol).cast("binary"), 256).as("__h"), col(idCol))
    val groups = keyed.groupBy(col("__h"))
      .agg(min(col(idCol)).as("dup_rep"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(col("__h"), col("dup_rep"))
    keyed.join(groups, Seq("__h"))
      .filter(col(idCol) =!= col("dup_rep"))
      .select(col(idCol), col("dup_rep"))
  }

  /** Caps LSH band width before a self-join: bands shared by more than
    * `maxBand` rows are dropped entirely. A band of width B yields B²
    * candidate pairs, and near-dup corpora are exactly the ones with
    * mega-bands (10^6 copies of a boilerplate page = 10^12 pairs from ONE
    * band) — production pipelines always bound this. Dropping a mega-band
    * loses nothing real: its members are verbatim-identical or
    * near-identical en masse, which exact dedup (or any surviving band)
    * already catches. Hot bands are few by construction, so the filter is
    * a broadcast anti-join — map-side, no extra shuffle of the band table. */
  private def capBands(sigs: DataFrame, bandCol: String,
                       maxBand: Int): DataFrame = {
    if (maxBand <= 0) return sigs
    val hot = sigs.groupBy(col(bandCol))
      .agg(count(lit(1)).as("__bw"))
      .filter(col("__bw") > maxBand)
      .select(col(bandCol))
    sigs.join(broadcast(hot), Seq(bandCol), "left_anti")
  }

  /** MinHash+LSH near-dup candidate pairs, refined by exact n-gram Jaccard.
    *
    * shingle(n words) -> minhash(k) -> band keys (k/bandRows bands) ->
    * self-equi-join on band key (bands wider than `maxBand` dropped — see
    * [[capBands]]) -> distinct pairs -> Jaccard >= threshold.
    */
  def minhashNearDups(df: DataFrame, textCol: String, idCol: String,
                      shingle: Int = 3, k: Int = 32, bandRows: Int = 4,
                      threshold: Double = 0.8, maxBand: Int = 64): DataFrame = {
    Geo.register(df.sparkSession)
    val docs = df.select(col(idCol).as("id"), col(textCol).as("text"))
    // the banded self-join moves IDS ONLY — at 100 TB the candidate shuffle
    // is 16 bytes/row, not the document text; texts re-join below for the
    // exact refine, which touches only the (small) candidate set
    val sigs = capBands(docs
      .select(col("id"), explode(call_function("lsh_bands",
        call_function("minhash", col("text"), lit(shingle), lit(k)),
        lit(bandRows))).as("band")), "band", maxBand)
    val candidates = sigs.as("a").join(sigs.as("b"),
      col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    candidates
      .join(docs.select(col("id").as("id_a"), col("text").as("text_a")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("text").as("text_b")), "id_b")
      .withColumn("jaccard", call_function("ngram_jaccard",
        col("text_a"), col("text_b"), lit(shingle)))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** SimHash near-dups: 64-bit simhash banded into 4×16-bit keys (any
    * identical band -> candidate; hamming distance <= maxHamming refine;
    * bands wider than `maxBand` dropped — see [[capBands]]). */
  def simhashNearDups(df: DataFrame, textCol: String, idCol: String,
                      maxHamming: Int = 3, maxBand: Int = 64): DataFrame = {
    Geo.register(df.sparkSession)
    hash64NearDups(
      df.select(col(idCol).as("id"), col(textCol).as("text"))
        .withColumn("sh", call_function("simhash", col("text"))),
      "sh", "id", maxHamming, maxBand)
  }

  /** Near-dup pairs over ANY 64-bit locality hash column (simhash,
    * `img_phash`, audio fingerprints…): the hash splits into 4×16-bit band
    * keys — hamming distance <= 3 GUARANTEES a shared band (pigeonhole);
    * higher `maxHamming` trades recall — and candidates refine by exact
    * hamming. This is image-level dedup when the column is `img_phash`
    * (the input contract's phash, computed from real pixels). */
  def hash64NearDups(df: DataFrame, hashCol: String, idCol: String,
                     maxHamming: Int = 3, maxBand: Int = 64): DataFrame = {
    Geo.register(df.sparkSession)
    val hashed = df.select(col(idCol).as("id"), col(hashCol).as("sh"))
      .filter(col("sh").isNotNull)
    val banded = capBands(hashed
      .withColumn("band_idx", explode(array((0 until 4).map(lit): _*)))
      .withColumn("band_key",
        concat(col("band_idx"), lit(":"),
          expr("shiftright(sh, band_idx * 16) & 65535"))), "band_key", maxBand)
    val pairs = banded.as("a").join(banded.as("b"),
      col("a.band_key") === col("b.band_key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sh").as("sh_a"), col("b.sh").as("sh_b"))
      .distinct()
    pairs
      .withColumn("hamming", call_function("hamming64", col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Edit-distance-1 near-dup pairs over a SHORT-string column (captions,
    * titles, queries): all (id_a, id_b) with Levenshtein(a, b) <= 1 and
    * the exact distance. The fuzzy-caption dedup pass of an image-text
    * training pipeline — catches one-keystroke variants that exact dedup
    * misses and MinHash can't see (shingle sets of short strings are too
    * coarse).
    *
    * Candidates come from the SymSpell deletion-neighborhood scheme:
    * D(s) = {s} ∪ {s minus one character}. lev(a, b) <= 1 ⟹ D(a) ∩ D(b)
    * is non-empty (equal: share s; one insert/delete: deleting the extra
    * character lands in both; one substitution: deleting the substituted
    * position from each side lands in both), so the equi-join on deletion
    * keys is COMPLETE; it over-generates (e.g. "ab"/"ba" share keys at
    * distance 2), so the exact `levenshtein` refine decides every pair.
    *
    * Scale shape: a row emits len+1 keys, but the candidate join shuffles
    * their 8-byte xxhash64 values, NOT the strings — a hash collision
    * only creates a FALSE CANDIDATE that the exact refine kills, so
    * semantics are unchanged while shuffle bytes drop ~(len/8)×
    * (measured: N→4N scaling 0.649 → re-measured after this change in
    * SCALING.md on 8M strings). For long documents use
    * [[minhashNearDups]]/[[simhashNearDups]]. With `maxBand <= 0` (exact
    * mode) hash arrays ride the join and the MIN-shared-hash claim keeps
    * each pair exactly once with no distinct pass. With `maxBand > 0`,
    * hashes shared by more than `maxBand` rows are dropped before the
    * self-join (mega-key bound — 10^6 copies of a stock caption would
    * otherwise emit 10^12 candidates from one key; exact dedup already
    * covers verbatim mass duplicates) and pairs dedupe via `distinct`
    * since the min shared hash may have been capped away. */
  def editNearDups(df: DataFrame, textCol: String, idCol: String,
                   maxBand: Int = 64): DataFrame = {
    val docs = df.select(col(idCol).as("id"), col(textCol).as("text"))
      .filter(col("text").isNotNull)
    val keyed = docs.withColumn("__keys", expr(
      "transform(array_union(array(text), " +
        "transform(sequence(1, greatest(length(text), 1)), i -> " +
        "concat(substring(text, 1, i - 1), " +
        "substring(text, i + 1, length(text))))), k -> xxhash64(k))"))
    // texts RIDE the candidate join: this operator is short-strings by
    // contract (captions/titles), so carrying ~len bytes per candidate
    // row is cheaper than re-joining the corpus twice for the refine —
    // the refine becomes a map-side levenshtein with no extra shuffle
    // (the documents discipline — ids only, join texts back — is for
    // kB-scale payloads; see minhashNearDups)
    val pairs =
      if (maxBand > 0) {
        val banded = capBands(
          keyed.select(col("id"), col("text"), explode(col("__keys")).as("__k")),
          "__k", maxBand)
        banded.as("a").join(banded.as("b"),
            col("a.__k") === col("b.__k") && col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
            col("a.text").as("text_a"), col("b.text").as("text_b"))
          .withColumn("dist", levenshtein(col("text_a"), col("text_b")))
          .filter(col("dist") <= 1)
          .select(col("id_a"), col("id_b"), col("dist"))
          .distinct()
      } else {
        val banded = keyed.select(col("id"), col("text"), col("__keys"),
          explode(col("__keys")).as("__k"))
        banded.as("a").join(banded.as("b"),
            col("a.__k") === col("b.__k") && col("a.id") < col("b.id") &&
              col("a.__k") === array_min(array_intersect(
                col("a.__keys"), col("b.__keys"))))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
            col("a.text").as("text_a"), col("b.text").as("text_b"))
          .withColumn("dist", levenshtein(col("text_a"), col("text_b")))
          .filter(col("dist") <= 1)
          .select(col("id_a"), col("id_b"), col("dist"))
      }
    pairs
  }

  /** Boilerplate-line removal (the CCNet/Dolma corpus-cleaning pass): drop
    * every line that occurs in >= `minDocFreq` distinct documents, keeping
    * the remaining lines in their original order.
    *
    * Scale shape: pass 1 aggregates line -> distinct-document frequency
    * (only (line, id) pairs shuffle); pass 2 anti-joins each document's
    * exploded lines against the frequent-line set and reassembles the text
    * order-preserving — all built-in, fully codegen'd operators.
    *
    * @return df with `textCol` replaced by the cleaned text (documents
    *         whose every line was boilerplate keep an empty string). */
  def dropBoilerplateLines(df: DataFrame, textCol: String, idCol: String,
                           sep: String = "\n",
                           minDocFreq: Long = 10): DataFrame = {
    val sepRegex = java.util.regex.Pattern.quote(sep)
    val lines = df.select(col(idCol),
        posexplode(split(col(textCol), sepRegex)).as(Seq("__pos", "__line")))
    val hot = lines.groupBy(col("__line"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocFreq)
      .select(col("__line"))
    val cleaned = lines.join(hot, Seq("__line"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(transform(array_sort(collect_list(
        struct(col("__pos"), col("__line")))), e => e.getField("__line")), sep)
        .as("__cleaned"))
    df.join(cleaned, Seq(idCol), "left")
      .withColumn(textCol, coalesce(col("__cleaned"), lit("")))
      .drop("__cleaned")
  }

  /** Connected components over near-dup pairs: every node labeled with the
    * minimum id reachable in its component — the cluster representative.
    * This is the step that turns pair-finding (MinHash/SimHash/embedding
    * candidates) into an actual keep/drop dedup decision: keep exactly the
    * rows whose id equals their cluster label.
    *
    * Min-label propagation: each round joins the (id, label) frontier with
    * the symmetrized edge list and takes the per-node minimum — only
    * id-sized pairs ever shuffle; the edge list persists across rounds
    * (re-derivation would re-execute the candidate pipeline per round);
    * each round's labels are checkpointed so one job runs per round.
    * Convergence is detected STRUCTURALLY — the count of ids whose label
    * changed, observed on the round's own materialization. Works for any id
    * type, unlike a numeric-sum potential, which silently declares
    * convergence after one round for non-numeric ids (cast -> NULL) or on
    * decimal overflow. Each round also pointer-jumps (every node adopts
    * its label's label — path halving), so rounds are O(log diameter)
    * instead of O(diameter): near-dup clusters are dense (diameter 1-2,
    * one round either way), chain-shaped components converge
    * logarithmically, and `maxIter` bounds adversarial cases.
    *
    * @param pairs edge list, any orientation, self-loops/dups fine
    * @return ("id", "cluster") for every id present in `pairs` */
  def dupClusters(pairs: DataFrame, idA: String = "id_a",
                  idB: String = "id_b", maxIter: Int = 50): DataFrame = {
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = Rounds.materialize(edges.select(col("src").as("id"))
      .distinct().withColumn("cluster", col("id")), "cc input")
    val clusterType = labels.schema("cluster").dataType
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val msgs = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("cluster"))
      // carry each id's PREVIOUS label through the min-aggregation (the
      // labels side contributes exactly one row per id and every msg dst
      // is also a node, so min(__old) ignoring the msgs' nulls is the old
      // label): convergence is then readable off the checkpointed frame
      // instead of the former per-round join of the two frontiers (guide
      // §2.4 — one exchange, not two, per round).
      val base = labels.withColumn("__old", col("cluster"))
        .unionByName(msgs.withColumn("__old", lit(null).cast(clusterType)))
      // pointer jump: each id also adopts its label's label. A label is
      // always the id of a node in the SAME component (init: itself;
      // msgs: a neighbor's label; jump: that node's label), so the min
      // fixpoint is unchanged — the jump only shortcuts label chains,
      // which is what bounds chain-shaped components to log rounds.
      // Round 0's jump is the identity (every label is its own id) and
      // is skipped — one broadcast join less in the first, coldest round.
      val withJump =
        if (it == 0) base
        else {
          val jump = labels.as("x").join(labels.as("y"),
              col("x.cluster") === col("y.id"))
            .select(col("x.id").as("id"), col("y.cluster").as("cluster"))
          base.unionByName(
            jump.withColumn("__old", lit(null).cast(clusterType)))
        }
      // convergence rides the round's materialization; an inflated
      // changed-count never reads 0, so it is never confirmed
      val (next, changed) = Rounds.counted(withJump
        .groupBy(col("id")).agg(min(col("cluster")).as("cluster"),
          min(col("__old")).as("__old")),
        s"cc round $it", col("cluster") =!= col("__old"))(_ => false)
      converged = changed == 0L
      labels = next.drop("__old")
      it += 1
    }
    edges.unpersist(blocking = false)
    require(converged, s"dupClusters did not converge within $maxIter rounds")
    labels
  }

  /** Test-set decontamination: flag corpus documents sharing any word
    * `n`-gram with a benchmark/eval set (the held-out-leakage pass every
    * LLM training pipeline runs). All built-ins: split → sliding
    * `transform(sequence, slice)` → md5 per gram — md5 keeps the join key
    * at 32 chars regardless of gram length AND is engine-identical, so
    * the q71 oracle reproduces the exact flag set.
    *
    * 100-TB shape: document text never leaves the scan — only distinct
    * (id, gram-md5) pairs shuffle; the benchmark gram set is tiny next to
    * the corpus and broadcasts, so the corpus side is a map-side hash
    * semi-join. Returns (idCol, n_shared) for flagged corpus docs. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, textCol: String,
                    idCol: String, n: Int = 8,
                    normalize: Boolean = false): DataFrame = {
    require(n >= 1)
    // `normalize`: case-fold + punctuation->space + whitespace collapse
    // BEFORE n-gramming — verbatim-only matching misses trivially
    // perturbed leakage (an eval answer re-cased or re-punctuated slips a
    // strict filter); real pipelines always fold first. All built-ins, so
    // the normalized pass stays one codegen'd projection over the scan.
    val textExpr =
      if (!normalize) col(textCol)
      else trim(regexp_replace(regexp_replace(lower(col(textCol)),
        lit("[\\p{Punct}]"), lit(" ")), lit("\\s+"), lit(" ")))
    // the barrier keeps the normalize+split chain out of the size filter
    def grams(df: DataFrame): DataFrame =
      Barrier(df.withColumn("__t", split(textExpr, " ")))
        .filter(size(col("__t")) >= n)
        .select(col(idCol), explode(expr(
          s"transform(sequence(0, size(__t) - $n), " +
            s"i -> md5(concat_ws(' ', slice(__t, i + 1, $n))))")).as("gram"))
        .distinct()
    val benchGrams = grams(benchmark).select("gram").distinct()
    grams(corpus).join(broadcast(benchGrams), "gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Dedup decision over a table given near-dup pairs: every row labeled
    * with its cluster and an `is_rep` flag (1 = keep). Rows in no pair are
    * their own singleton cluster. */
  def withClusters(df: DataFrame, idCol: String, pairs: DataFrame,
                   idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val comps = dupClusters(pairs, idA, idB)
      .withColumnRenamed("id", idCol)
    df.join(comps, Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("cluster"), col(idCol)))
      .withColumn("is_rep", (col("cluster") === col(idCol)).cast("int"))
  }

  /** Embedding-cosine near-dup pairs: LSH-bucket candidates (random
    * hyperplane signs), exact cosine refine.
    *
    * `bits` must grow with corpus size — the within-bucket self-join is
    * quadratic in bucket width, so bucket population has to stay bounded.
    * Pass `bits <= 0` to size it automatically from the corpus count
    * (targeting ~64 rows/bucket on a uniform hash; planted duplicates still
    * collide because near-identical vectors share sign bits). */
  def embeddingNearDups(df: DataFrame, vecCol: String, idCol: String,
                        bits: Int = 12, seed: Long = 42L,
                        threshold: Double = 0.95): DataFrame = {
    Geo.register(df.sparkSession)
    val useBits =
      if (bits > 0) bits
      else {
        val n = df.count()
        math.max(4, math.ceil(math.log(math.max(1.0, n / 64.0)) /
          math.log(2.0)).toInt)
      }
    val bucketed = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("bucket", call_function("vec_lshbucket",
        col("vec"), lit(useBits), lit(seed)))
    bucketed.as("a").join(bucketed.as("b"),
      col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .withColumn("cos", call_function("vec_cosine", col("a.vec"), col("b.vec")))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cos"))
  }
}
