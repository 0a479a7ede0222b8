package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, ShortType}

import graft.Reuse.ReuseOps
import graft.functions.TextAnalysis

/** Deduplication family for training-data preparation: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash. All operators are declarative
  * DataFrame transforms — Catalyst keeps pushdown/pruning, and every
  * pairwise step is an inverted-index or bucket JOIN, never an O(n²)
  * cross join, so the shapes survive a 100 TB corpus.
  *
  * Scale notes per operator are on each method.
  */
object Dedup {

  // ------------------------------------------------------------------
  // Exact dedup
  // ------------------------------------------------------------------

  /** Exact dedup: keep the smallest id per distinct text. Grouping key
    * is `sha2(text, 256)` — 32 bytes instead of the full document — so
    * the shuffle moves digests, not the 100 TB of text. (Cryptographic
    * digest ⇒ collisions are not a practical concern; the text column
    * itself never needs to leave its input partition.) */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), sha2(col(textCol), 256).as("__digest"))
      .groupBy(col("__digest"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)

  /** Exact-dup groups: digest → member count + canonical (min) id,
    * only groups with 2+ members. The "what would dedup remove" report. */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), sha2(col(textCol), 256).as("digest"))
      .groupBy(col("digest"))
      .agg(count(lit(1)).as("n_members"), min(col(idCol)).as("canonical_id"))
      .filter(col("n_members") >= 2)

  // ------------------------------------------------------------------
  // N-gram Jaccard near-dup (exact, inverted-index join)
  // ------------------------------------------------------------------

  /** Exact Jaccard-similar pairs over word n-gram sets, via an
    * inverted-index self-join: explode distinct shingles, join docs
    * sharing a shingle, count shared shingles once per pair, then
    * `J = shared / (|A| + |B| - shared)`.
    *
    * Scale: the join key is the shingle, so cost is Σ df(s)² over
    * shingle document-frequencies — linear for natural text where most
    * shingles are rare. `maxShingleDf` drops ultra-common shingles
    * (boilerplate: license headers, templated text) whose df² terms
    * dominate the join cost; at 100 TB this cap is what keeps the
    * candidate join bounded, and it is the production default
    * (`SparkEntry` registers the capped variant). With a cap, set sizes
    * are recomputed over the SURVIVING shingles, so the score is the
    * exact Jaccard over the reduced universe — not a mixed estimate that
    * silently underestimates boilerplate-heavy pairs. Pairs are emitted
    * once with idA < idB.
    */
  def jaccardNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxShingleDf: Option[Int] = None): DataFrame = {
    // The repartition is a deliberate materialization barrier: without
    // it, CollapseProject inlines the (interpreted-HOF) shingle
    // expression into the size filter, the setsize projection, the
    // explode, AND both self-join sides — ~6 evaluations per document.
    // Behind an Exchange it is computed once, and ReuseExchange lets the
    // self-join read the same computed exchange twice. The shuffled rows
    // are (id, shingles) — tiny next to the pair join below.
    val sets = df.select(
        col(idCol).as("id"),
        graft.expressions.ShingleExpressions
          .distinctWordNgrams(col(textCol), n).as("sh"))
      .repartition(col("id"))
      .filter(size(col("sh")) > 0)

    // the inverted index is keyed on xxhash64(shingle), not the shingle
    // text: every downstream exchange (df count, cap join, pair join)
    // then shuffles 8-byte longs instead of ~n-word strings — the same
    // "shuffle digests, not text" rule exactDedup applies. Distinct
    // shingles already hold per doc, so a hash collision can only merge
    // two DIFFERENT shingles across docs (P ≈ m²/2⁶⁵ — negligible, and
    // bounded to a ±1 perturbation of `shared` per colliding pair).
    val inv0 = sets.select(col("id"), size(col("sh")).as("setsize"),
        explode(col("sh")).as("s0"))
      .select(col("id"), col("setsize"), xxhash64(col("s0")).as("s"))
    val inv = maxShingleDf match {
      case Some(cap) =>
        // document frequency per shingle; drop shingles above the cap.
        // Set sizes are then re-derived from the surviving postings so
        // |A| and |B| count the same universe as `shared` — a doc whose
        // shingles are ALL capped drops out entirely (it has no
        // discriminative content at this threshold).
        val dfreq = inv0.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap)
          .select("s")
        val kept = inv0.select("id", "s").join(dfreq, "s")
        val sizes = kept.groupBy("id").agg(count(lit(1)).as("setsize"))
        kept.join(sizes, Seq("id"))
      case None => inv0
    }

    val a = inv.select(col("s"), col("id").as("id_a"), col("setsize").as("na"))
    val b = inv.select(col("s"), col("id").as("id_b"), col("setsize").as("nb"))
    a.join(b, Seq("s"))
      .filter(col("id_a") < col("id_b"))
      // size-ratio prefilter (exact, no false dismissals): J ≥ t forces
      // |A∩B| ≥ t·max(|A|,|B|), and |A∩B| ≤ min(|A|,|B|), so any
      // qualifying pair has min ≥ t·max. Prunes posting-join rows
      // BEFORE the pair aggregation — the classic set-similarity size
      // filter (Arasu et al., VLDB'06).
      .filter(least(col("na"), col("nb")).cast("double") >=
        lit(threshold) * greatest(col("na"), col("nb")))
      .groupBy(col("id_a"), col("id_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard",
        col("shared").cast("double") /
          (col("na") + col("nb") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Cross-corpus exact Jaccard near-dup pairs — the incremental-crawl
    * dedup shape: which documents of a NEW batch near-duplicate
    * something in an existing REFERENCE corpus. Same inverted-index
    * join, size-ratio prefilter, and reduced-universe scoring as
    * [[jaccardNearDupPairs]], but the postings join is across the two
    * corpora only: no left×left or right×right candidates are ever
    * generated, so the cost is Σ df_L(s)·df_R(s) — strictly smaller
    * than the self-join over the union. Shingles shuffle as xxhash64
    * longs (same digest-not-text rule; collision trade documented on
    * the self-join). Boilerplate-heavy corpora should pre-gate with
    * `dropDupNgramHeavy`/df-caps before pairing, exactly as with the
    * self-join. Output: (id_left, id_right, jaccard) — no id ordering
    * constraint, the sides are distinct corpora. */
  def jaccardNearDupPairsAcross(left: DataFrame, leftIdCol: String,
      leftTextCol: String, right: DataFrame, rightIdCol: String,
      rightTextCol: String, n: Int, threshold: Double): DataFrame = {
    def postings(df: DataFrame, idCol: String, textCol: String,
        idOut: String, szOut: String): DataFrame = {
      // same materialization-barrier repartition as the self-join: the
      // shingle HOF output feeds the size filter, size projection, and
      // explode once, not once per consumer
      val sets = df.select(col(idCol).as(idOut),
          graft.expressions.ShingleExpressions
            .distinctWordNgrams(col(textCol), n).as("sh"))
        .repartition(col(idOut))
        .filter(size(col("sh")) > 0)
      sets.select(col(idOut), size(col("sh")).as(szOut),
          explode(col("sh")).as("s0"))
        .select(col(idOut), col(szOut), xxhash64(col("s0")).as("s"))
    }
    val a = postings(left, leftIdCol, leftTextCol, "id_left", "na")
    val b = postings(right, rightIdCol, rightTextCol, "id_right", "nb")
    a.join(b, Seq("s"))
      // size-ratio prefilter (Arasu et al.) — exact, no false dismissals
      .filter(least(col("na"), col("nb")).cast("double") >=
        lit(threshold) * greatest(col("na"), col("nb")))
      .groupBy(col("id_left"), col("id_right"), col("na"), col("nb"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard",
        col("shared").cast("double") /
          (col("na") + col("nb") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select("id_left", "id_right", "jaccard")
  }

  /** Prefix-filtered exact Jaccard self-join — the AllPairs/PPJoin
    * candidate scheme (Bayardo et al. WWW'07 / Xiao et al. WWW'08,
    * public literature; independent implementation): order every
    * document's shingles by GLOBAL rarity (df asc, hash asc) and index
    * only each document's PREFIX — its first |d| − ⌈t·|d|⌉ + 1 tokens
    * under that order. Any pair with J ≥ t shares ≥ ⌈t·|d|⌉ tokens, so
    * skipping a whole prefix is impossible: candidates = prefix-token
    * collisions, complete by construction.
    *
    * This is the third member of the Jaccard-join family and its
    * best-scaling candidate generator on skewed corpora: the df-cap
    * ([[jaccardNearDupPairs]]) changes the ANSWER (capped universe);
    * banding ([[minhashNearDupPairs]]) is probabilistic; the prefix
    * filter is exact over the FULL universe while indexing only the
    * rare end of each document — frequent (boilerplate) tokens never
    * generate candidates unless a document consists of almost nothing
    * else. Candidate volume is Σ over prefix tokens of df_prefix(s)²,
    * with df_prefix ≪ df for every common token.
    *
    * Verification joins the candidate ids back to their full shingle
    * arrays and scores |A∩B| exactly (array intersect on the two
    * arrays — no postings re-aggregation), so only candidate-pair ids
    * and their two arrays move. The ⌈·⌉ and size-ratio boundaries are
    * evaluated with a 1e-9 slack so IEEE rounding of t·|d| can only
    * ADD a candidate, never dismiss a qualifying pair.
    * Output: (id_a, id_b, jaccard), id_a < id_b — ≡
    * the exhaustive join at the same threshold (oracle-shared). */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1], got $threshold")
    // one computed exchange feeds postings AND both verification sides
    val sets = df.select(
        col(idCol).as("id"),
        graft.expressions.ShingleExpressions
          .distinctWordNgrams(col(textCol), n).as("sh0"))
      .filter(size(col("sh0")) > 0)
      .select(col("id"),
        transform(col("sh0"), s => xxhash64(s)).as("sh"))
      .repartition(col("id"))

    val postings = sets.select(col("id"), size(col("sh")).as("nd"),
      explode(col("sh")).as("s"))
    val dfreq = postings.groupBy("s").agg(count(lit(1)).as("df"))
    val ranked = postings.join(dfreq, Seq("s"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("id").orderBy(col("df"), col("s"))))
    val prefix = ranked.filter(col("rk") <=
      col("nd") - ceil(lit(threshold) * col("nd").cast("double") - lit(1e-9))
        .cast("int") + 1)

    val cand = prefix.select(col("s"), col("id").as("id_a"), col("nd").as("na"))
      .join(prefix.select(col("s"), col("id").as("id_b"), col("nd").as("nb")),
        Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("na"), col("nb")).cast("double") >=
        lit(threshold) * greatest(col("na"), col("nb")) - lit(1e-9))
      .select("id_a", "id_b").distinct()

    cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("sha")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("shb")), Seq("id_b"))
      .withColumn("shared", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", col("shared").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Directed containment near-dup pairs: (a, b) where
    * |shingles(a) ∩ shingles(b)| / |shingles(a)| ≥ `threshold` — "a's
    * content is (almost) inside b". The asymmetric complement of
    * [[jaccardNearDupPairs]]: a 15-token quote lifted from a 10 000-
    * token page has Jaccard ≈ 0, and the symmetric size-ratio
    * prefilter EXCLUDES exactly these pairs by design — yet quote
    * extraction, boilerplate wrappers, and doc-inside-doc syndication
    * are real duplication a training corpus must see.
    *
    * Same inverted-index shape as the Jaccard family (distinct
    * n-gram shingles, xxhash64 digests shuffle instead of text,
    * optional df-cap re-deriving set sizes over the surviving
    * universe), but the size prune is the asymmetric one:
    * shared ≥ t·|A| and shared ≤ |B| force |B| ≥ t·|A| — the
    * CONTAINED side must not exceed its container by more than 1/t,
    * while the container may be arbitrarily larger. Exact, no false
    * dismissals. Candidate volume stays Σ df(s)² like the self-join,
    * bounded by the cap.
    *
    * Output: (id_a, id_b, containment), id_a ≠ id_b, directed — an
    * exact-duplicate pair appears in BOTH directions at 1.0. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      maxShingleDf: Option[Int] = None): DataFrame = {
    // same materialization-barrier repartition as jaccardNearDupPairs:
    // the shingle HOF output feeds every consumer once
    val sets = df.select(
        col(idCol).as("id"),
        graft.expressions.ShingleExpressions
          .distinctWordNgrams(col(textCol), n).as("sh"))
      .repartition(col("id"))
      .filter(size(col("sh")) > 0)
    val inv0 = sets.select(col("id"), size(col("sh")).as("setsize"),
        explode(col("sh")).as("s0"))
      .select(col("id"), col("setsize"), xxhash64(col("s0")).as("s"))
    val inv = maxShingleDf match {
      case Some(cap) =>
        val dfreq = inv0.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap)
          .select("s")
        val kept = inv0.select("id", "s").join(dfreq, "s")
        val sizes = kept.groupBy("id").agg(count(lit(1)).as("setsize"))
        kept.join(sizes, Seq("id"))
      case None => inv0
    }
    val a = inv.select(col("s"), col("id").as("id_a"), col("setsize").as("na"))
    val b = inv.select(col("s"), col("id").as("id_b"), col("setsize").as("nb"))
    a.join(b, Seq("s"))
      .filter(col("id_a") =!= col("id_b"))
      // asymmetric size prune: t·|A| ≤ shared ≤ |B| ⇒ |B| ≥ t·|A|
      .filter(col("nb").cast("double") >= lit(threshold) * col("na"))
      .groupBy(col("id_a"), col("id_b"), col("na"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("containment",
        col("shared").cast("double") / col("na"))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }

  /** Cross-corpus directed containment: which LEFT docs are ≥
    * `threshold` contained in some RIGHT doc — the
    * document-granularity decontamination shape ("is this benchmark
    * item sitting inside the training corpus?") and the quote-
    * attribution shape ("which page does this excerpt come from").
    * Complements [[ngramContamination]], which counts shared shingles
    * per corpus doc against a broadcast probe set: here the output is
    * the PAIRING itself, and the left side may be too large to
    * broadcast. Postings join across the two corpora only (cost
    * Σ df_L(s)·df_R(s)), asymmetric size prune |B| ≥ t·|A| — the
    * contained left side may be arbitrarily smaller than its
    * container. Output: (id_left, id_right, containment) — left ⊆
    * right only; no within-side candidates are ever generated. */
  def containmentPairsAcross(left: DataFrame, leftIdCol: String,
      leftTextCol: String, right: DataFrame, rightIdCol: String,
      rightTextCol: String, n: Int, threshold: Double): DataFrame = {
    def postings(df: DataFrame, idCol: String, textCol: String,
        idOut: String, szOut: String): DataFrame = {
      val sets = df.select(col(idCol).as(idOut),
          graft.expressions.ShingleExpressions
            .distinctWordNgrams(col(textCol), n).as("sh"))
        .repartition(col(idOut))
        .filter(size(col("sh")) > 0)
      sets.select(col(idOut), size(col("sh")).as(szOut),
          explode(col("sh")).as("s0"))
        .select(col(idOut), col(szOut), xxhash64(col("s0")).as("s"))
    }
    val a = postings(left, leftIdCol, leftTextCol, "id_left", "na")
    val b = postings(right, rightIdCol, rightTextCol, "id_right", "nb")
    a.join(b, Seq("s"))
      .filter(col("nb").cast("double") >= lit(threshold) * col("na"))
      .groupBy(col("id_left"), col("id_right"), col("na"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("containment",
        col("shared").cast("double") / col("na"))
      .filter(col("containment") >= threshold)
      .select("id_left", "id_right", "containment")
  }

  // ------------------------------------------------------------------
  // Span-level (paragraph) dedup — repeated-span removal
  // ------------------------------------------------------------------

  /** Remove spans of text that repeat across documents, keeping the
    * rest of each document intact — the paragraph-level dedup step of a
    * web-corpus pipeline (CCNet-style: boilerplate paragraphs, license
    * headers, navigation text appear verbatim in thousands of pages;
    * document-level near-dup cannot remove them without dropping whole
    * documents). Spans are fixed `spanTokens` windows (disjoint
    * `chunkDocs` chunks — the fixture corpus has no paragraph
    * delimiters; a newline-structured corpus would split on blank lines
    * upstream and feed the spans in directly). A span is "duplicated"
    * when it occurs in ≥ `minDupDocs` DISTINCT documents — a span
    * repeated only within one doc is repetition (see `tokenRepetition`),
    * not cross-doc boilerplate, and is kept.
    *
    * Scale shape: span rows are generated scan-locally (typed flatMap,
    * no shuffle), dup detection groups DISTINCT (xxhash64(span), doc)
    * pairs — 8-byte digests shuffle, not span text (collisions can only
    * merge two different spans, P ≈ m²/2⁶⁵, the documented family
    * trade); surviving span text shuffles once more to reassemble per
    * doc. Two span-text-sized exchanges total — the canonical shape of
    * paragraph-hash dedup at corpus scale.
    *
    * Output: (idCol, textCol = surviving spans joined with single
    * spaces — whitespace-normalized by construction, n_spans_kept).
    * Documents whose EVERY span was duplicated (pure boilerplate) and
    * empty/whitespace docs produce no output row. */
  def dedupSpans(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int, minDupDocs: Int = 2): DataFrame = {
    require(spanTokens > 0, s"spanTokens must be positive, got $spanTokens")
    require(minDupDocs >= 2,
      s"a span is 'duplicated' only in >= 2 docs, got minDupDocs = $minDupDocs")
    // The span rows feed the dup-detection aggregate AND the anti-join
    // left side. A repartition barrier alone does NOT deduplicate the
    // work here: the chunk generator is a TYPED MapPartitions node, and
    // AQE's stage cache does not unify the two planned copies of a
    // typed subtree (verified in the executed plan), so without the
    // eager localCheckpoint the corpus would be tokenized and chunked
    // once per consumer. The checkpoint materializes the keyed span
    // rows exactly once — the same move CCNet-style systems make when
    // they write the paragraph-hash table before joining against it; at
    // cluster scale this is a corpus-sized persist(DISK_ONLY)-class
    // materialization, priced once. (No repartition: checkpointed
    // partitioning is opaque to the planner anyway, so downstream
    // exchanges are planned on the keys that need them.)
    val keyed = TextAnalysis.chunkDocs(docs, idCol, textCol,
        chunkTokens = spanTokens, overlap = 0)
      .select(col(idCol), col("chunk_idx"), col("chunk_text"),
        xxhash64(col("chunk_text")).as("__s"))
      .materialized
    val dup = keyed.select(col("__s"), col(idCol)).distinct()
      .groupBy("__s").agg(count(lit(1)).as("__d"))
      .filter(col("__d") >= minDupDocs)
      .select("__s")
    keyed.join(dup, Seq("__s"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("chunk_idx"), col("chunk_text")))),
            x => x.getField("chunk_text")),
          " ").as(textCol),
        count(lit(1)).as("n_spans_kept"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03 —
    * the MOSS local fingerprinting scheme; public methodology,
    * independent implementation): over the ORDERED word-n-gram hash
    * sequence, every window of `window` consecutive hashes selects its
    * minimum (leftmost on ties), and the distinct selected positions
    * are the document's fingerprints. The winnowing guarantee: any
    * shared substring of ≥ window+n−1 tokens yields at least one
    * SHARED fingerprint, at expected density 2/(window+1) — position-
    * robust local dedup at a fraction of the full shingle volume
    * ([[duplicateSubstringSpans]] is the exhaustive counterpart;
    * [[exactDedup]]'s whole-doc digest the global one).
    *
    * Hashes are the portable sha52 so the selection replays exactly in
    * the oracle engine. The whole computation is scan-local (zero
    * shuffle) and runs as ONE codegen call per document
    * ([[graft.expressions.WinnowedPrints]]: monotonic-deque sliding
    * min, O(grams) — replaced the interpreted higher-order-transform
    * formulation that paid per-element Catalyst eval overhead, 6×
    * measured). Docs shorter than window+n−1 tokens have no complete
    * window and emit nothing.
    * Output: (id, pos [1-based gram index], print). */
  def winnowedFingerprints(docs: DataFrame, idCol: String,
      textCol: String, n: Int = 3, window: Int = 4): DataFrame = {
    require(n >= 1 && window >= 2, s"need n >= 1, window >= 2; got $n, $window")
    val toks = TextAnalysis.tokens(col(textCol))
    docs
      .filter(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(idCol).as("id"),
        explode(graft.expressions.WinnowExpressions
          .winnowedPrints(toks, n, window)).as("pp"))
      .select(col("id"), col("pp.pos").as("pos"), col("pp.print").as("print"))
  }

  /** Document pairs sharing ≥ `minShared` winnowed fingerprints — the
    * plagiarism/mirror-detection join at winnowed density (each doc
    * contributes ~2·m/(window+1) prints instead of m shingles, so the
    * inverted index is ~3× sparser at window 4 with the winnowing
    * guarantee intact for runs of ≥ window+n−1 tokens).
    * Output: (id_a, id_b, shared). */
  def winnowedOverlapPairs(docs: DataFrame, idCol: String,
      textCol: String, n: Int = 3, window: Int = 4,
      minShared: Long = 2L): DataFrame = {
    val fp = winnowedFingerprints(docs, idCol, textCol, n, window)
      .select(col("id"), col("print")).distinct()
    fp.select(col("print"), col("id").as("id_a"))
      .join(fp.select(col("print"), col("id").as("id_b")), Seq("print"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Duplication-cluster size profile — the corpus-governance read on
    * a components labeling ([[nearDupComponents]] output, or any
    * (id, label) frame): how many clusters of each size exist and how
    * many documents they hold. The size-1 row is the unduplicated
    * mass; the tail rows are template farms / mirror sites — the
    * histogram that decides whether keep-one-per-cluster dedup is a
    * 2% trim or a 40% cut BEFORE running it. Two tiny aggregations
    * over the labeling (components-sized, not corpus-sized).
    * Output: (cluster_size, n_clusters, n_docs). */
  def componentSizeProfile(components: DataFrame,
      labelCol: String = "component_id"): DataFrame =
    components.groupBy(col(labelCol))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))

  // ------------------------------------------------------------------
  // Cross-document boilerplate LINE removal
  // ------------------------------------------------------------------

  /** Remove individual LINES that repeat across documents — the
    * line-granularity member of the cross-doc dedup family
    * (MassiveText/RefinedWeb run exactly this pass over web text:
    * cookie banners, "subscribe" prompts and footer lines appear
    * verbatim in thousands of pages; [[TextAnalysis.dedupLines]] is the
    * WITHIN-doc variant, [[dedupSpans]] the fixed-token-window one —
    * this operator keys on the corpus' own newline structure instead).
    * A line is boilerplate when it occurs in ≥ `minDupDocs` DISTINCT
    * documents; repetition inside one document alone never qualifies.
    *
    * Scale shape (mirrors [[dedupSpans]]): the line rows are generated
    * scan-locally (per-row split + posexplode, no shuffle) and
    * materialized once — they feed dup detection AND the anti-join.
    * Dup detection groups DISTINCT (xxhash64(line), doc) pairs so
    * 8-byte digests shuffle, not line text (a collision can only merge
    * two different lines, P ≈ m²/2⁶⁵ — the documented family trade);
    * surviving line text shuffles once more to reassemble per doc.
    *
    * Every non-NULL-text document yields an output row (NULL text has
    * no lines to classify and is omitted, the family convention): a doc
    * whose EVERY line was boilerplate comes back with text = "" and
    * n_dropped = n_lines (the pipeline signal "this page was pure
    * chrome" — unlike [[dedupSpans]], which drops such docs, the line
    * pass reports them). Output: (idCol, textCol, n_lines,
    * n_dropped). */
  def boilerplateLines(docs: DataFrame, idCol: String, textCol: String,
      minDupDocs: Int): DataFrame = {
    require(minDupDocs >= 2,
      s"a line is boilerplate only in >= 2 docs, got minDupDocs = $minDupDocs")
    val nonNull = docs.filter(col(textCol).isNotNull)
    val lines = nonNull
      .select(col(idCol),
        posexplode(split(col(textCol), "\n", -1)).as(Seq("__i", "__l")))
      .withColumn("__s", xxhash64(col("__l")))
      .materialized
    val dup = lines.select(col("__s"), col(idCol)).distinct()
      .groupBy("__s").agg(count(lit(1)).as("__d"))
      .filter(col("__d") >= minDupDocs)
      .select("__s")
    val kept = lines.join(dup, Seq("__s"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("__i"), col("__l")))),
            x => x.getField("__l")),
          "\n").as("__text"),
        count(lit(1)).as("__k"))
    nonNull
      .select(col(idCol),
        size(split(col(textCol), "\n", -1)).cast("long").as("n_lines"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__text"), lit("")).as(textCol),
        col("n_lines"),
        (col("n_lines") - coalesce(col("__k"), lit(0L))).as("n_dropped"))
  }

  // ------------------------------------------------------------------
  // Substring-level exact dedup (Lee et al. 2022, ExactSubstr)
  // ------------------------------------------------------------------

  /** Maximal duplicated token substrings — the substring-level exact
    * dedup of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better"), whose reference implementation is a
    * suffix array. The distributed shape here is hashed k-mer anchors
    * + extension:
    *
    *  1. every doc emits its SLIDING token k-grams with position (one
    *     anchor per token offset — unlike [[dedupSpans]]' fixed
    *     non-overlapping windows, a shared run is detected at ANY
    *     alignment, including straddling any window boundary);
    *  2. an anchor duplicated across ≥ `minDupDocs` docs marks tokens
    *     [pos, pos+k-1] as duplicated — any shared run of length
    *     L ≥ k contains L−k+1 such anchors, so detection is COMPLETE
    *     for the minimum length k and the marked union is exactly the
    *     maximal shared run (the "bidirectional extension" of the
    *     suffix-array formulation falls out of anchor overlap);
    *  3. per doc, overlapping/adjacent anchor intervals merge into
    *     maximal spans (gaps-and-islands over a per-doc window — rows
    *     per doc = its dup anchors, so the window is narrow).
    *
    * Dup detection groups on `xxhash64` of the k-gram — the
    * [[dedupSpans]] precedent: the shuffle moves 8-byte keys, never
    * the text; the DuckDB oracle groups the gram strings themselves
    * (collision-free), identical absent a 64-bit collision.
    *
    * Output: (idCol, span_start, span_end) — 0-based inclusive TOKEN
    * intervals, one row per maximal duplicated span. Docs with no
    * duplicated substring produce no rows. */
  def duplicateSubstringSpans(docs: DataFrame, idCol: String, textCol: String,
      minTokens: Int, minDupDocs: Int = 2): DataFrame = {
    require(minTokens >= 2, s"minTokens must be >= 2, got $minTokens")
    require(minDupDocs >= 2, s"minDupDocs must be >= 2, got $minDupDocs")
    val anchors = docs
      .select(col(idCol), posexplode(
        TextAnalysis.wordNgrams(col(textCol), minTokens)).as(Seq("pos", "g")))
      .select(col(idCol), col("pos"), xxhash64(col("g")).as("__h"))
      .materialized // feeds dup detection AND the anchor side of the join
    val dup = anchors.select(col("__h"), col(idCol)).distinct()
      .groupBy("__h").agg(count(lit(1)).as("__d"))
      .filter(col("__d") >= minDupDocs)
      .select("__h")
    val marked = anchors.join(dup, Seq("__h"), "left_semi")
      .select(col(idCol), col("pos"),
        (col("pos") + lit(minTokens - 1)).as("__e"))
    // gaps-and-islands: a new span starts where this anchor's interval
    // neither overlaps nor touches everything seen so far
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val prevMax = max(col("__e")).over(
      w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
    marked
      .withColumn("__new",
        when(prevMax.isNull || col("pos") > prevMax + 1, 1).otherwise(0))
      .withColumn("__isl", sum(col("__new")).over(w))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        max(col("__e")).cast("long").as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"))
  }

  /** Remove every duplicated substring occurrence (≥ `minTokens`
    * tokens, shared by ≥ `minDupDocs` docs) from every document — the
    * corpus-cleaning form of [[duplicateSubstringSpans]]. Output:
    * (idCol, textCol = surviving tokens space-joined, n_dup_tokens).
    * Docs that were entirely duplicated text keep a row with empty
    * text (unlike [[dedupSpans]], which drops them) so accounting
    * stays total. The positional filter is an interpreted HOF, but it
    * runs on the OUTPUT projection (once per doc), not in a join or
    * shuffle path. */
  def substringDedup(docs: DataFrame, idCol: String, textCol: String,
      minTokens: Int, minDupDocs: Int = 2): DataFrame = {
    val spans = duplicateSubstringSpans(docs, idCol, textCol, minTokens, minDupDocs)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    docs.join(spans, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__spans").isNull, col(textCol)).otherwise(array_join(
          filter(TextAnalysis.tokens(col(textCol)),
            (_, i) => !exists(col("__spans"),
              sp => i.cast("long").between(
                sp.getField("span_start"), sp.getField("span_end")))),
          " ")).as(textCol),
        coalesce(aggregate(col("__spans"), lit(0L),
          (acc, sp) => acc + sp.getField("span_end") - sp.getField("span_start") + 1L),
          lit(0L)).as("n_dup_tokens"))
  }

  // ------------------------------------------------------------------
  // MinHash + LSH near-dup (approximate candidate generation)
  // ------------------------------------------------------------------

  /** MinHash signatures as 64 per-doc `min(xxhash64(i, shingle))`
    * aggregates over the exploded shingle stream.
    *
    * Deliberately explode+groupBy rather than a nested `transform` over
    * the shingle array: higher-order functions are interpreted (no
    * whole-stage codegen), and — worse — a signature built in a
    * `withColumn` gets INLINED by `CollapseProject` into every
    * downstream band expression and join side, multiplying the k×|sh|
    * hash work ~2×bands times. The aggregate both runs codegen'd and is
    * a pipeline breaker, so signatures are computed exactly once. The
    * shuffle is map-side-combined: one 64-long row per doc moves. */
  def minhashSignatureCols(numHashes: Int): Seq[Column] =
    (0 until numHashes).map(i => min(xxhash64(lit(i), col("s"))).as(s"h$i"))

  /** MinHash+LSH near-dup pairs: signature → band buckets → bucket join
    * for candidates → exact Jaccard verification on the shingle sets.
    *
    * Scale: the shuffles are (i) the signature aggregation (map-side
    * combined, one row per doc); (ii) the band-bucket join, keyed on
    * (band index, band hash) — cardinality ≈ corpus size × bands, with
    * bucket sizes concentrated near 1 for non-dup docs; (iii) the
    * verification join, which touches candidate pairs only (≪ n²).
    * This is the standard web-scale near-dedup shape (MMDS ch. 3).
    */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands

    // same materialization-barrier rationale as in jaccardNearDupPairs:
    // sets feeds the signature explode AND both verification joins
    val sets = df.select(
        col(idCol).as("id"),
        graft.expressions.ShingleExpressions
          .distinctWordNgrams(col(textCol), n).as("sh"))
      .repartition(col("id"))
      .filter(size(col("sh")) > 0)

    val sigCols = minhashSignatureCols(numHashes)
    val sigs = sets.select(col("id"), explode(col("sh")).as("s"))
      .groupBy("id")
      .agg(sigCols.head, sigCols.tail: _*)

    // band hash straight from the signature columns — codegen'd murmur3
    // over rowsPerBand longs, no intermediate array
    val bandCols = (0 until bands).map { j =>
      hash((j * rowsPerBand until (j + 1) * rowsPerBand).map(i => col(s"h$i")): _*)
    }
    val banded = sigs.select(col("id"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bucket")))

    val cand = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()

    // exact verification: join the shingle sets back and compute true J
    val withSets = cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
    withSets
      .withColumn("shared", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("shared").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Candidate-generation quality report for MinHash banding — the
    * evaluation a pipeline runs BEFORE committing (numHashes, bands) at
    * corpus scale: band the corpus, compare the candidate pair set
    * against the exhaustive Jaccard-≥-threshold truth, and report
    * precision/recall of the BANDING stage (the verify stage then pays
    * exactly `n_candidates` set intersections, so precision is the cost
    * knob and recall the quality knob; the s-curve promises
    * P(candidate) = 1 − (1 − s^r)^b per pair and this measures the
    * realized aggregate).
    *
    * Signatures here are PORTABLE on purpose: h_i = min over shingles
    * of sha52(i ":" shingle) — the engine-neutral 52-bit sha prefix the
    * sketch family uses — so the whole report (including every bucket
    * collision) is replayable in the oracle engine bit-for-bit.
    * [[minhashNearDupPairs]] keeps xxhash64 for production speed; the
    * evaluation harness trades ~2× hash cost for cross-engine
    * exactness.
    *
    * Scale shape: signature aggregation is map-side combined (one
    * numHashes-long row per doc); the band join is keyed on
    * (band, bucket string); the truth side is the exhaustive
    * inverted-index join — corpus-quadratic in the worst case, which is
    * WHY this runs on an evaluation slice (pass a sampled df) before
    * the tuned parameters run on the full corpus.
    *
    * Output: one row — (n_truth, n_candidates, tp, fp, fn, precision,
    * recall); precision/recall NULL when their denominator is 0. */
  def minhashBandingReport(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    // feeds the signature explode AND the truth inverted index
    val sets = df.select(
        col(idCol).as("id"),
        graft.expressions.ShingleExpressions
          .distinctWordNgrams(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .materialized
    val exploded = sets.select(col("id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("s"))
    val sigCols = (0 until numHashes).map(i =>
      min(graft.functions.Kmv.sha52(concat(lit(s"$i:"), col("s"))))
        .as(s"h$i"))
    // NO materialization on sigs: the aggregation is a pipeline breaker
    // whose exchange ReuseExchange already unifies across the candidate
    // self-join's two sides — an A/B (3-pass minima, same session)
    // measured the checkpointed variant SLOWER (5.2 s vs 3.9 s at
    // sf0.1: the sha-min agg is not re-evaluated, so the checkpoint
    // write is pure overhead). The `sets` checkpoint above remains the
    // real sharing point (typed shingle subtrees are what AQE fails to
    // unify — the dedupSpans lesson).
    val sigs = exploded.groupBy("id").agg(sigCols.head, sigCols.tail: _*)
    val bandCols = (0 until bands).map { j =>
      concat_ws("|",
        (j * rowsPerBand until (j + 1) * rowsPerBand)
          .map(i => col(s"h$i").cast("string")): _*)
    }
    val banded = sigs.select(col("id"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bucket")))
    val cand = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val truth = exploded.select(col("s"), col("id").as("id_a"), col("sz").as("na"))
      .join(exploded.select(col("s"), col("id").as("id_b"), col("sz").as("nb")),
        Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "na", "nb").agg(count(lit(1)).as("shared"))
      .filter(col("shared").cast("double") /
        (col("na") + col("nb") - col("shared")) >= threshold)
      .select("id_a", "id_b")
    val out = cand.withColumn("__c", lit(1))
      .join(truth.withColumn("__t", lit(1)), Seq("id_a", "id_b"), "full_outer")
      .agg(
        sum(coalesce(col("__t"), lit(0))).cast("long").as("n_truth"),
        sum(coalesce(col("__c"), lit(0))).cast("long").as("n_candidates"),
        sum(coalesce(col("__c"), lit(0)) * coalesce(col("__t"), lit(0)))
          .cast("long").as("tp"))
    out.select(col("n_truth"), col("n_candidates"), col("tp"),
      (col("n_candidates") - col("tp")).as("fp"),
      (col("n_truth") - col("tp")).as("fn"),
      when(col("n_candidates") > 0,
        col("tp").cast("double") / col("n_candidates")).as("precision"),
      when(col("n_truth") > 0,
        col("tp").cast("double") / col("n_truth")).as("recall"))
  }

  /** SimHash banding candidate-quality report — [[minhashBandingReport]]
    * for the Hamming family: candidate-set precision/recall of an
    * `evalBands`-band bucket join (BEFORE the Hamming verify) against
    * the true Hamming-≤-`maxDist` pairs. Two configurations meet here:
    * the pigeonhole theorem guarantees recall 1 only when
    * `evalBands ≥ maxDist + 1`, and `simhashNearDupPairs` REFUSES the
    * lossy regime — this report is how a pipeline QUANTIFIES that
    * regime (fewer/wider bands = fewer shuffled band rows and smaller
    * buckets, paid in measured recall) before choosing parameters.
    *
    * Truth is generated sub-quadratically by the COMPLETE banding
    * (`max(4, maxDist + 1)` bands + exact Hamming cut) — not circular:
    * completeness at that band count is a theorem, spec'd against the
    * planted band-defeating masks in DedupSpec, and the oracle
    * recomputes truth as the exhaustive packed-halves pairwise join.
    * One signature pass feeds both sides. Output: (n_truth,
    * n_candidates, tp, fp, fn, precision, recall). */
  def simhashBandingReport(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, evalBands: Int,
      tokenHash: TokenHash = XxHash): DataFrame = {
    require(maxDist >= 0 && maxDist <= 31,
      s"maxDist must be in [0, 31], got $maxDist")
    require(evalBands >= 1 && evalBands <= 64,
      s"evalBands must be in [1, 64], got $evalBands")
    val sigs = simhashSignaturesFast(df, idCol, textCol, tokenHash)
      .filter(col("sig").isNotNull)
      .materialized
    val layout = simhashBandLayout(evalBands)
    val banded = sigs.select(col("id"),
      posexplode(array(layout.map { case (shift, width) =>
        shiftright(col("sig"), shift).bitwiseAND(lit(-1L >>> (64 - width)))
      }: _*)).as(Seq("band", "bucket")))
    val cand = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val truth = simhashPairsFromSigs(sigs, maxDist,
        math.max(4, maxDist + 1))
      .select("id_a", "id_b")
    val report = cand.withColumn("__c", lit(1))
      .join(truth.withColumn("__t", lit(1)), Seq("id_a", "id_b"),
        "full_outer")
      .agg(
        sum(coalesce(col("__t"), lit(0))).cast("long").as("n_truth"),
        sum(coalesce(col("__c"), lit(0))).cast("long").as("n_candidates"),
        sum(coalesce(col("__c"), lit(0)) * coalesce(col("__t"), lit(0)))
          .cast("long").as("tp"))
      .select(col("n_truth"), col("n_candidates"), col("tp"),
        (col("n_candidates") - col("tp")).as("fp"),
        (col("n_truth") - col("tp")).as("fn"),
        when(col("n_candidates") > 0,
          col("tp").cast("double") / col("n_candidates")).as("precision"),
        when(col("n_truth") > 0,
          col("tp").cast("double") / col("n_truth")).as("recall"))
    report
  }

  // ------------------------------------------------------------------
  // Benchmark decontamination (n-gram overlap vs a probe set)
  // ------------------------------------------------------------------

  /** Train/test contamination report: for each corpus doc, how many of
    * its distinct word n-gram shingles appear anywhere in `probes` (the
    * benchmark/eval suite), plus the contaminated fraction — the
    * standard n-gram decontamination check run before training so eval
    * answers aren't memorized from leaked benchmark text.
    *
    * Scale shape: the probe side (benchmark suites — MBs, not TBs) is
    * reduced to DISTINCT shingles and BROADCAST, so corpus shingles are
    * matched scan-locally and never shuffle; the only exchange is the
    * per-doc count aggregation of narrow (id, count) partials, map-side
    * combined. Shingles join as raw strings — exactness matters here
    * (an oracle-visible count), and with a broadcast probe side the
    * string keys never leave their scan partition anyway. The
    * `repartition(id)` is the same materialization-barrier idiom as in
    * `jaccardNearDupPairs`: the shingle array feeds both the size
    * projection and the explode, and behind one exchange it is computed
    * once (ReuseExchange) instead of once per consumer.
    *
    * Docs with zero shingles (empty/blank) have no defined contamination
    * and are omitted, like every operator in this family.
    *
    * Output: (id, n_shingles, shared_shingles, contamination ∈ [0,1]). */
  def ngramContamination(docs: DataFrame, idCol: String, textCol: String,
      probes: DataFrame, probeTextCol: String, n: Int): DataFrame = {
    val sets = docs.select(
        col(idCol).as("id"),
        graft.expressions.ShingleExpressions
          .distinctWordNgrams(col(textCol), n).as("sh"))
      .repartition(col("id"))
      .filter(size(col("sh")) > 0)
    val probeShingles = probes.select(
        explode(graft.expressions.ShingleExpressions
          .distinctWordNgrams(col(probeTextCol), n)).as("s"))
      .distinct()
    val shared = sets.select(col("id"), explode(col("sh")).as("s"))
      .join(broadcast(probeShingles), Seq("s"))
      .groupBy("id")
      .agg(count(lit(1)).as("shared_shingles"))
    sets.select(col("id"), size(col("sh")).as("n_shingles"))
      .join(shared, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_shingles"),
        coalesce(col("shared_shingles"), lit(0L)).as("shared_shingles"),
        (coalesce(col("shared_shingles"), lit(0L)).cast("double") /
          col("n_shingles")).as("contamination"))
  }

  /** Bloom-filter form of [[ngramContamination]] — the path for probe
    * sets too large to broadcast as exact distinct shingles (a full
    * eval-suite library in many languages can reach GBs of distinct
    * n-grams; a bloom of the same set is `bitsPerItem`/8 bytes per
    * shingle). The probe shingles fold into ONE bloom via the map-side-
    * combining `bloom_filter_agg`, and each corpus doc counts its
    * might-contain shingles scan-locally — no join, no shuffle beyond
    * the per-doc count aggregation.
    *
    * Error is ONE-SIDED, the safe direction for decontamination: a
    * bloom has no false negatives, so `shared_shingles` here is ≥ the
    * exact count for every doc (never under-reports leakage) and
    * over-reports by ~fpp of the doc's clean shingles. A gate built on
    * this operator drops a superset of what the exact gate drops.
    * Same caps/type contract as [[bloomAntiJoin]]; output schema
    * matches [[ngramContamination]]. */
  def ngramContaminationBloom(docs: DataFrame, idCol: String, textCol: String,
      probes: DataFrame, probeTextCol: String, n: Int,
      expectedProbeShingles: Long, bitsPerItem: Int = 8): DataFrame = {
    val sets = docs.select(
        col(idCol).as("id"),
        graft.expressions.ShingleExpressions
          .distinctWordNgrams(col(textCol), n).as("sh"))
      .repartition(col("id"))
      .filter(size(col("sh")) > 0)
    val probeShingles = probes.select(
        explode(graft.expressions.ShingleExpressions
          .distinctWordNgrams(col(probeTextCol), n)).as("s"))
    val postings = sets.select(col("id"), explode(col("sh")).as("s"))
    val flagged = bloomMightContain(postings, "s", probeShingles, "s",
        expectedProbeShingles, bitsPerItem)
    val shared = postings
      .filter(flagged)
      .groupBy("id")
      .agg(count(lit(1)).as("shared_shingles"))
    sets.select(col("id"), size(col("sh")).as("n_shingles"))
      .join(shared, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_shingles"),
        coalesce(col("shared_shingles"), lit(0L)).as("shared_shingles"),
        (coalesce(col("shared_shingles"), lit(0L)).cast("double") /
          col("n_shingles")).as("contamination"))
  }

  /** Per-ROW form of [[ngramContaminationBloom]] — the STREAMING
    * decontamination gate: no explode, no per-doc aggregation, no
    * join; each row counts its might-contain shingles inside one
    * higher-order `filter` against the plan-time bloom literal. A pure
    * projection, so the same plan runs over a batch frame and inside
    * an append-mode stream with NO watermark — benchmark text is
    * filtered in-flight, before it ever lands. Two deliberate
    * deviations from the join-form family, both for stream
    * composability: shingle-free docs are EMITTED (n_shingles 0,
    * contamination 0.0 — recovering them would need a join the stream
    * cannot do), and the shingle filter is an interpreted HOF (off the
    * batch hot path by design; per-row cost is shingles × bloom
    * probes). Error stays one-sided: `shared_shingles` ≥ the exact
    * count, a gate on this drops a superset.
    * Output: (idCol, n_shingles, shared_shingles, contamination). */
  def ngramContaminationInline(docs: DataFrame, idCol: String,
      textCol: String, probes: DataFrame, probeTextCol: String, n: Int,
      expectedProbeShingles: Long, bitsPerItem: Int = 8): DataFrame = {
    val probeShingles = probes.select(
      explode(graft.expressions.ShingleExpressions
        .distinctWordNgrams(col(probeTextCol), n)).as("s"))
    val blob = bloomBlob(probeShingles, "s", expectedProbeShingles,
      bitsPerItem)
    // NULL text would make distinctWordNgrams null, and size(null) is
    // -1 under Spark's default legacy sizeOfNull — emitting
    // n_shingles=-1 / contamination=0.0 would silently pass a gate, so
    // fold nulls into the documented shingle-free contract (n_shingles
    // 0, contamination 0.0) instead
    val sh = coalesce(graft.expressions.ShingleExpressions
      .distinctWordNgrams(col(textCol), n), array().cast("array<string>"))
    val shared =
      if (blob == null) lit(0L)
      else size(filter(col("__sh"), s => mightContainBlob(blob, s)))
        .cast("long")
    docs.select(col(idCol), sh.as("__sh"))
      .select(col(idCol),
        size(col("__sh")).as("n_shingles"),
        shared.as("shared_shingles"))
      .withColumn("contamination",
        when(col("n_shingles") > 0,
          col("shared_shingles").cast("double") / col("n_shingles"))
          .otherwise(lit(0.0)))
  }

  /** Build a bloom over `right.rightKeyCol` and return the scan-local
    * might-contain predicate on `left.leftKeyCol` — the probe primitive
    * [[bloomAntiJoin]] and [[ngramContaminationBloom]] share. Enforces
    * the type-match and session-cap contracts (see bloomAntiJoin docs);
    * an empty right side yields a constant-false predicate. */
  private[operators] def bloomMightContain(left: DataFrame, leftKeyCol: String,
      right: DataFrame, rightKeyCol: String,
      expectedItems: Long, bitsPerItem: Int): Column = {
    val lt = left.schema(leftKeyCol).dataType
    val rt = right.schema(rightKeyCol).dataType
    require(lt == rt,
      s"bloom key types must match exactly (XxHash64 is type-sensitive): " +
        s"left $leftKeyCol is $lt, right $rightKeyCol is $rt")
    val blob = bloomBlob(right, rightKeyCol, expectedItems, bitsPerItem)
    if (blob == null) lit(false)
    else mightContainBlob(blob, left.col(leftKeyCol))
  }

  /** Materialize the bloom over `right.rightKeyCol` as a byte blob
    * (null for an empty build side). Session-cap contract as
    * [[bloomAntiJoin]]; the blob is computed ONCE at plan-build time,
    * so predicates derived from it are plain literals — usable inside
    * streaming plans where a runtime subquery would not be. */
  private[operators] def bloomBlob(right: DataFrame, rightKeyCol: String,
      expectedItems: Long, bitsPerItem: Int): Array[Byte] = {
    require(expectedItems > 0 && bitsPerItem > 0)
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftglue.Bridge
    val numBits = expectedItems * bitsPerItem
    val conf = right.sparkSession.conf
    val maxItems = conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
    val maxBits = conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
    require(expectedItems <= maxItems && numBits <= maxBits,
      s"bloom parameters expectedItems=$expectedItems / numBits=$numBits " +
        s"exceed the session caps ($maxItems items / $maxBits bits) and " +
        "would be silently clamped into saturation; raise " +
        "spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits " +
        "or shard the build side")
    val buildAgg = new BloomFilterAggregate(
      new XxHash64(Seq(Bridge.expression(right.col(rightKeyCol)))),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression()
    right.select(Bridge.column(buildAgg).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** Might-contain predicate against an already-materialized bloom
    * blob — usable on ANY column expression, including a lambda
    * variable inside a higher-order `filter` (what the scan-local
    * streaming gate needs; `bloomMightContain` only probes a frame's
    * own column). */
  private[operators] def mightContainBlob(blob: Array[Byte],
      key: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.graftglue.Bridge
    Bridge.column(new BloomFilterMightContain(
      Literal(blob, org.apache.spark.sql.types.BinaryType),
      new XxHash64(Seq(Bridge.expression(key)))))
  }

  /** Corpus after decontamination: drop docs whose contaminated shingle
    * fraction EXCEEDS `maxContamination` (0.0 = drop on any overlap).
    * Shingle-free docs carry no benchmark text by construction and are
    * kept. */
  def dropContaminated(docs: DataFrame, idCol: String, textCol: String,
      probes: DataFrame, probeTextCol: String, n: Int,
      maxContamination: Double): DataFrame = {
    val flagged = ngramContamination(docs, idCol, textCol, probes, probeTextCol, n)
      .filter(col("contamination") > maxContamination)
      .select(col(idCol))
    docs.join(flagged, Seq(idCol), "left_anti")
  }

  /** Approximate anti-join through a Bloom filter — the 100 TB form of
    * "drop every left row whose key exists on the right" when the right
    * side is too large to broadcast exactly and an exact shuffled
    * anti-join (which moves BOTH sides) is not worth the pass. The
    * right keys are folded into one Bloom filter via Spark's
    * map-side-combining `bloom_filter_agg` (each partition builds a
    * partial sketch; only `numBits`-sized blobs move), the final blob is
    * embedded as a literal, and the left side is filtered scan-locally
    * with the codegen'd `might_contain` — no shuffle touches left rows.
    *
    * Contract (one-sided error, spec'd): a Bloom filter has NO false
    * negatives, so every left row whose key IS present on the right is
    * definitely dropped — the result is always a SUBSET of the exact
    * anti-join, short by ~fpp of the surviving rows (false positives
    * over-drop). That direction is the safe one for decontamination
    * and reference-corpus dedup: leakage never survives; the cost is a
    * sliver of clean data, tunable via `numBits` (default 8 bits/item
    * ≈ 2% fpp; 16 ≈ 0.05%). NULL left keys are kept, matching exact
    * left_anti semantics (NULL equals nothing). Keys are xxhash64'd on
    * both sides, so any orderable type works. */
  def bloomAntiJoin(left: DataFrame, leftKeyCol: String,
      right: DataFrame, rightKeyCol: String,
      expectedItems: Long, bitsPerItem: Int = 8): DataFrame = {
    // the blob is the ONLY thing collected: numBits/8 bytes, the same
    // driver-resident-sketch trade as IVF centroids (documented there).
    // Type-match and session-cap contracts live in bloomMightContain:
    // XxHash64 is type-sensitive (a silent mismatch would KEEP
    // contaminated rows), and BloomFilterAggregate silently Math.min-
    // clamps oversized parameters into saturation.
    val might = bloomMightContain(left, leftKeyCol, right, rightKeyCol,
      expectedItems, bitsPerItem)
    // NULL keys kept explicitly: might_contain(null) is null, and exact
    // left_anti keeps null-keyed left rows (NULL equals nothing)
    left.filter(col(leftKeyCol).isNull || !might)
  }

  // ------------------------------------------------------------------
  // Corpus-internal duplicated n-grams (Gopher-style dup_ngram_frac)
  // ------------------------------------------------------------------

  /** Corpus-wide duplicated-shingle report: the `k` word n-grams that
    * appear in the most documents (document frequency ≥ `minDf` ≥ 2),
    * ordered by (df desc, shingle asc). This is the boilerplate
    * detector a curation pipeline runs to find license headers,
    * templated navigation, and generator artifacts — the text whose df²
    * terms also dominate the Jaccard join cost (see `jaccardNearDupPairs`'
    * `maxShingleDf`).
    *
    * Scale shape: per-doc DISTINCT shingles explode to (shingle) rows,
    * df is a partial→final HashAggregate bounded by per-partition
    * shingle vocabulary, and the top-k plans as TakeOrderedAndProject —
    * each partition ships only its local top-k. Shingles stay raw
    * strings here because they ARE the output; the per-doc fraction
    * below hashes them instead. */
  def duplicatedNgrams(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minDf: Int, k: Int): DataFrame = {
    require(minDf >= 2, s"a shingle is 'duplicated' only with df >= 2, got $minDf")
    docs.select(col(idCol).as("id"),
        explode(graft.expressions.ShingleExpressions
          .distinctWordNgrams(col(textCol), n)).as("s"))
      .groupBy("s")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .orderBy(col("df").desc, col("s").asc)
      .limit(k)
  }

  /** Per-doc duplicated-n-gram stats — the Gopher repetition-rule family
    * applied ACROSS documents (Rae et al. §A1.1 measure within-doc
    * repetition; this measures how much of a document is text the rest
    * of the corpus also contains):
    *   - `n_shingles`: the doc's distinct word n-grams,
    *   - `dup_shingles`: how many of those appear in ≥ 2 docs,
    *   - `dup_ngram_frac` = dup/total ∈ [0,1] — near 1 means the doc is
    *     assembled almost entirely from corpus-shared text (boilerplate,
    *     aggregator pages) even when no single pair passes a Jaccard
    *     threshold.
    *
    * Scale shape: one shingle scan feeds both the df aggregation and the
    * postings (the `repartition(id)` materialization barrier — same
    * idiom as `jaccardNearDupPairs`, ReuseExchange reads it twice
    * instead of re-evaluating the HOF per consumer). Shingles shuffle as
    * xxhash64 longs, never strings (collisions can only merge two
    * different shingles, P ≈ m²/2⁶⁵ — the same documented trade as the
    * Jaccard index). The duplicated-shingle set joins back as a plain
    * shuffle join on the 8-byte key: unlike `ngramContamination`'s probe
    * set it is corpus-sized, so NO broadcast. Docs with zero shingles
    * are omitted, like the rest of the family. */
  def dupNgramStats(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val sets = docs.select(
        col(idCol).as("id"),
        graft.expressions.ShingleExpressions
          .distinctWordNgrams(col(textCol), n).as("sh"))
      .repartition(col("id"))
      .filter(size(col("sh")) > 0)
    val postings = sets.select(col("id"),
        explode(col("sh")).as("s0"))
      .select(col("id"), xxhash64(col("s0")).as("s"))
    val dup = postings.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .select("s")
    val counts = postings.join(dup, Seq("s"), "left_semi")
      .groupBy("id")
      .agg(count(lit(1)).as("dup_shingles"))
    sets.select(col("id"), size(col("sh")).as("n_shingles"))
      .join(counts, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_shingles"),
        coalesce(col("dup_shingles"), lit(0L)).as("dup_shingles"),
        (coalesce(col("dup_shingles"), lit(0L)).cast("double") /
          col("n_shingles")).as("dup_ngram_frac"))
  }

  /** Corpus after the cross-doc boilerplate gate: drop docs whose
    * `dup_ngram_frac` EXCEEDS `maxFrac`. Shingle-free docs have no
    * shared text by construction and are kept. */
  def dropDupNgramHeavy(docs: DataFrame, idCol: String, textCol: String,
      n: Int, maxFrac: Double): DataFrame = {
    val flagged = dupNgramStats(docs, idCol, textCol, n)
      .filter(col("dup_ngram_frac") > maxFrac)
      .select(col(idCol))
    docs.join(flagged, Seq(idCol), "left_anti")
  }

  /** Corpus after near-dup removal: drop every doc that is the larger id
    * of some near-dup pair (keep-smallest policy, transitive enough for
    * reporting; `nearDupComponents` is the principled alternative when
    * clusters matter). */
  def dropNearDups(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("id_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Incremental component maintenance: fold a crawl increment into an
    * EXISTING labeling without recomputing the world. `labels` is a
    * prior [[nearDupComponents]] output (id, component_id); `newIds`
    * carries the increment's ids; `newPairs` holds every pair involving
    * at least one new doc (within-increment + across, e.g. from the
    * `...Across` operators). New ids start as their own component; the
    * new edges are CONTRACTED through the current labels, components
    * run over that label graph — which is smaller than the corpus by
    * the dedup rate, and tiny next to a full recompute — and the result
    * remaps every id.
    *
    * Exactness: each label is its component's MIN id, and min-labeling
    * is associative under merging — the merged labeling is IDENTICAL to
    * a from-scratch [[nearDupComponents]] over the full pair set, as
    * long as the pair RULE is corpus-independent (a pure pairwise
    * threshold like uncapped Jaccard; a df-cap computed per corpus
    * breaks that premise and can differ from the full recompute).
    * Scale: two shuffles to contract edges + the label-graph loop
    * (driver union-find for the common KB-scale case) + one remap join.
    * Output: (id, component_id) for old ∪ new ids. */
  def mergeComponents(labels: DataFrame, newIds: DataFrame, idCol: String,
      newPairs: DataFrame): DataFrame = {
    val base = labels.select(col(idCol), col("component_id"))
    val fresh = newIds.select(col(idCol)).distinct()
      .join(base, Seq(idCol), "left_anti")
      .select(col(idCol), col(idCol).as("component_id"))
    // feeds the two edge-contraction joins AND the final remap
    val all = base.unionByName(fresh).materialized
    val la = all.select(col(idCol).as("id_a"), col("component_id").as("__ca"))
    val lb = all.select(col(idCol).as("id_b"), col("component_id").as("__cb"))
    val contracted = newPairs.select("id_a", "id_b")
      .join(la, "id_a").join(lb, "id_b")
      .select(col("__ca").as("id_a"), col("__cb").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
    val superLabels = nearDupComponents(
        all.select(col("component_id").as(idCol)).distinct(), idCol, contracted)
      .select(col(idCol).as("__old"), col("component_id").as("__super"))
    all.join(superLabels, all("component_id") === col("__old"))
      .select(col(idCol), col("__super").as("component_id"))
  }

  /** Quality-aware canonical selection: ONE row per near-dup component —
    * the member with the highest `quality` (ties → smallest id; a NULL
    * quality loses to any non-null one). Where `dropNearDups` keeps the
    * smallest id and `nearDupComponents` only labels, this is the policy
    * an LLM-curation pipeline actually wants: near-dup clusters usually
    * hold one clean original and N mangled scrapes, and "keep the
    * best-scored member" retains the original regardless of which id
    * crawled first. Singletons are their own component and always kept.
    *
    * Scale: components come from [[nearDupComponents]] (subgraph-sized
    * work); the winner per component is a `max_by` over a
    * (quality-present, quality, -id) struct — map-side combinable, ONE
    * shuffle of one row per (component, partition), no per-component
    * sort. Requires a numeric id (the tie-break negates it); the
    * registered corpus ids are bare longs. */
  def keepBestPerComponent(df: DataFrame, idCol: String, pairs: DataFrame,
      quality: Column): DataFrame =
    keepBestPerComponentLabeled(df, idCol,
      nearDupComponents(df, idCol, pairs), quality)

  /** [[keepBestPerComponent]] over an ALREADY-DERIVED labeling (a
    * prior [[nearDupComponents]] output): the labeling is a per-corpus
    * dedup-registry artifact several governance reads share — a caller
    * holding it materialized passes it here instead of re-running the
    * label loop per consumer. */
  def keepBestPerComponentLabeled(df: DataFrame, idCol: String,
      labels: DataFrame, quality: Column): DataFrame = {
    require(Set[org.apache.spark.sql.types.DataType](LongType, IntegerType,
        ShortType, ByteType, DoubleType, FloatType)(df.schema(idCol).dataType),
      s"keepBestPerComponent needs a numeric id for the min-id tie-break; " +
        s"$idCol is ${df.schema(idCol).dataType}")
    val labeled = df.join(labels, Seq(idCol))
    val payload = df.columns.toSeq
    labeled
      .groupBy(col("component_id"))
      .agg(max_by(struct(payload.map(col): _*),
        struct(quality.isNotNull, quality, -col(idCol))).as("__r"))
      .select(payload.map(c => col(s"__r.$c").as(c)): _*)
  }

  /** Connected components over near-dup pairs: every node gets
    * `component_id` = the smallest id reachable through the pair graph
    * (singletons map to themselves). THE canonical dedup-cluster
    * operator — "keep one document per component" is exact transitive
    * dedup, where pairwise keep-smallest can drop too much (a<b, b<c
    * pairs kill c even if a~c was never asserted).
    *
    * Implementation: iterative min-label propagation — each round joins
    * labels across edges and takes the min; converges in O(diameter)
    * rounds, each a pair of shuffles. `localCheckpoint` cuts the lineage
    * per round so plans don't grow exponentially. Near-dup graphs have
    * tiny diameters (dup clusters are near-cliques), so rounds ≈ 2–4 at
    * any corpus size; this is the standard large-scale CC shape
    * (Kiveris et al., "Connected Components in MapReduce and Beyond").
    */
  /** Rounds the last `nearDupComponents` call took to converge —
    * instrumentation for the round-count regression spec (the loop is
    * the expensive part; a regression that doubles rounds should fail
    * CI, not just slow the bench).
    *
    * TEST-ONLY, SINGLE-THREADED instrumentation by contract: it is a
    * process-global slot, so concurrent `nearDupComponents` calls in one
    * JVM race on it and a reader observes whichever call finished last.
    * Production code must not branch on it; the operator's result
    * is unaffected. (Kept global deliberately: threading a counter
    * through the return type would complicate every call site for a
    * value only DedupSpec reads.) */
  val lastComponentsRounds = new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Default `driverEdgeLimit` for [[nearDupComponents]]: 2²⁰ canonical
    * edges (16 MB of raw long pairs). A near-dup pair graph is minuscule
    * next to its corpus — banding/inverted-index generation emits pairs
    * only for actual near-dups, so even a 100 TB corpus with 1% dup rate
    * yields edges in the millions, not billions. Under the limit the
    * subgraph is solved with a driver union-find (exact, same min-label
    * contract) instead of paying 2 shuffles + a checkpoint + a count
    * action per propagation round — the same KB-scale driver-resident
    * trade as IVF's centroids. Above it, the distributed label loop
    * runs unchanged. */
  val DefaultDriverEdgeLimit: Long = 1L << 20

  def nearDupComponents(df: DataFrame, idCol: String, pairs: DataFrame,
      maxRounds: Int = 50,
      driverEdgeLimit: Long = DefaultDriverEdgeLimit): DataFrame = {
    // Undirected edge list, both directions, from ONE scan of `pairs`:
    // the naive `pairs.union(pairs.swapped)` evaluates the pair plan
    // twice, and `pairs` is typically the expensive half of the whole
    // job (an LSH/inverted-index derivation — 4 s at sf0.1 for the
    // embedding graph). Exploding a 2-element struct array emits both
    // directions from a single pass, and the EAGER localCheckpoint
    // materializes the result once before the label loop re-reads it
    // every round.
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .materialized

    // Propagation runs over the near-dup SUBGRAPH only — nodes with at
    // least one pair. Singletons (the overwhelming majority of a clean
    // 100 TB corpus) never enter a round; they are stitched back with
    // one join at the end. Per-round cost is sized by the dup graph,
    // not the corpus.
    val idType = df.schema(idCol).dataType
    val integralId = idType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    // edges is checkpoint-materialized, so the count scans cached blocks.
    // Small integral-id graphs skip the loop entirely: a driver
    // union-find gives the identical min-label result (spec'd ≡ the
    // loop) without per-round scheduling. Non-integral ids (string keys
    // etc.) stay distributed — Spark's min() on UTF8String is byte-order,
    // which a JVM-side comparison must not silently re-define.
    if (integralId && edges.count() / 2 <= driverEdgeLimit) {
      lastComponentsRounds.set(0)
      return stitchDfLabels(df, idCol, unionFindLabels(edges, idType))
    }
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("component_id", col("node"))
    var prevRound: DataFrame = null
    var converged = false
    var rounds = 0 // diameter bound; dup clusters converge in 2-4 rounds
    while (!converged && rounds < maxRounds) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
        .select(col("src").as("node"), col("component_id"))
      // convergence detection is FOLDED into the label aggregation: own
      // label rows carry prev = current label, neighbor rows carry null,
      // so min(prev) recovers each node's previous label in the same
      // shuffle that computes the new one. A node changed iff new < prev
      // (a min over a superset can only shrink). The old separate
      // next⋈labels probe join — one extra shuffle per round — is gone;
      // the probe below only scans the already-materialized checkpoint.
      val next = labels
        .select(col("node"), col("component_id"), col("component_id").as("prev"))
        .union(viaNeighbors.select(col("node"), col("component_id"),
          lit(null).cast(idType).as("prev")))
        .groupBy("node")
        .agg(min("component_id").as("component_id"), min("prev").as("prev"))
        .materialized // cut lineage; also materializes for the probe
      converged =
        next.filter(col("component_id") < col("prev")).limit(1).count() == 0
      // persist mode: the superseded round's cache entry goes now
      // (no-op under local/reliable — ContextCleaner owns those)
      if (prevRound != null) graft.Reuse.release(prevRound)
      prevRound = next
      labels = next.select("node", "component_id")
      rounds += 1
    }
    // fail loudly rather than return labels that LOOK like components:
    // a graph with diameter > maxRounds (chained text drift) would
    // otherwise silently yield split clusters
    require(converged,
      s"nearDupComponents did not converge within $maxRounds rounds; " +
        "raise maxRounds for graphs with very long near-dup chains")
    lastComponentsRounds.set(rounds)
    stitchDfLabels(df, idCol, labels)
  }

  /** Driver union-find over a small (≤ `driverEdgeLimit`) edge list:
    * collect the canonical (src < dst) edges, union with the smaller
    * root as parent — by induction the root of every set is its minimum
    * member, exactly the min-label contract of the distributed loop.
    * Output: the subgraph (node, component_id) labels, cast back to the
    * id type, ready for [[stitchDfLabels]]. Nodes appearing only in
    * self-loop pairs produce no canonical edge and no label here; the
    * stitch labels them as themselves, same as the loop would. */
  private def unionFindLabels(edges: DataFrame, idType: DataType): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.filter(col("src") < col("dst"))
      .select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)]
      .collect()
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression: point the walked chain at the root
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val labels = es.iterator.flatMap(e => Iterator(e._1, e._2)).toSet.toSeq
      .map((n: Long) => (n, find(n)))
    labels.toDF("node", "component_id")
      .select(col("node").cast(idType).as("node"),
        col("component_id").cast(idType).as("component_id"))
  }

  /** Map subgraph labels back onto `df`: every component's
    * representative is remapped to its minimum df-MEMBER id (pairs may
    * reference ids absent from df — computed on a superset, df filtered
    * after; foreign nodes relay connectivity in the loops above but must
    * never BE the representative, or "keep the doc where doc_id ==
    * component_id" would silently delete whole clusters), and df nodes
    * with no pair label themselves. Two joins on the (tiny) subgraph
    * label set plus the final stitch — once, not per round. */
  private def stitchDfLabels(df: DataFrame, idCol: String,
      labels: DataFrame): DataFrame = {
    val reps = labels
      .join(df.select(col(idCol).as("node")), Seq("node"))
      .groupBy("component_id")
      .agg(min(col("node")).as("rep"))
    val dfLabels = labels.join(reps, Seq("component_id"))
      .select(col("node"), col("rep").as("component_id"))
    df.select(col(idCol))
      .join(dfLabels.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component_id"), col(idCol)).as("component_id"))
  }

  /** Connected components via alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14) — the long-chain-robust alternative to
    * `nearDupComponents`: min-label propagation needs O(diameter)
    * rounds (bad for pathological chained-drift graphs), star
    * contraction converges in O(log²) rounds regardless of diameter by
    * rewiring edges toward component minima instead of carrying labels.
    *
    * Per round, two self-describing steps over the edge list:
    *  - large-star: every node points its LARGER neighbors at its
    *    current minimum (min of the neighborhood and itself);
    *  - small-star: every node points its smaller-or-equal neighbors
    *    (and itself) at that minimum.
    * Fixed point = a star per component, centered on the component min.
    * Both steps are groupBy + join on node id — the same shapes as the
    * label loop, but each round strictly shrinks edge "height", so
    * chains collapse doubly-logarithmically rather than linearly.
    *
    * Same output contract as `nearDupComponents` (property-tested
    * equal): every `df` node labeled with its component min; singletons
    * label themselves. Registered queries keep the min-label variant —
    * near-dup graphs are near-cliques, where 2–3 label rounds beat the
    * star rounds' extra joins; this operator is for edge lists whose
    * diameter is unknown or adversarial. */
  def nearDupComponentsStar(df: DataFrame, idCol: String, pairs: DataFrame,
      maxRounds: Int = 30): DataFrame = {
    // canonical undirected edges (a < b), self-loops dropped
    val undirected0 = pairs
      .select(least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .materialized
    var undirected = undirected0

    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      // bidirectional view: (u, v) for both directions
      val e = undirected.select(col("a").as("u"), col("b").as("v"))
        .union(undirected.select(col("b").as("u"), col("a").as("v")))
      // m(u) = min(N(u) ∪ {u})
      val mins = e.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))

      // large-star: for v ∈ N(u) with v > u, edge (v, m(u)); v > u ≥ m
      // so no self-loops can appear
      val large = e.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("m").as("a"), col("v").as("b"))

      // small-star on the large-star output, keyed on the LARGER
      // endpoint: neighbors ≤ u and u itself point at m(u)
      val ls = large.select(col("b").as("u"), col("a").as("v")) // v < u by construction
      val smins = ls.groupBy("u").agg(min(col("v")).as("m"))
      val small = ls.join(smins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("m").as("a"), col("v").as("b"))
        .union(smins.select(col("m").as("a"), col("u").as("b")))
        .distinct()
        .materialized // materialize: feeds both the probe and next round

      // exact fixed-point test: small ⊆ undirected (no new edges) AND
      // equal counts — subset plus equal cardinality implies multiset
      // equality. The subset check alone would accept a round that
      // strictly DROPPED edges as converged without confirming the edge
      // set is stable, which is weaker than the edge-set-unchanged fixed
      // point the Kiveris algorithm assumes. Both frames are
      // localCheckpoint-materialized, so the extra count scans cache.
      converged = small.exceptAll(undirected).limit(1).count() == 0 &&
        small.count() == undirected.count()
      if (undirected ne undirected0) graft.Reuse.release(undirected)
      undirected = small
      rounds += 1
    }
    require(converged,
      s"nearDupComponentsStar did not converge within $maxRounds rounds")

    // fixed point is a star per component: every edge is (root, member)
    val labels = undirected
      .select(col("b").as("node"), col("a").as("component_id"))
      .union(undirected.select(col("a").as("node"), col("a").as("component_id")))
      .distinct()
    stitchDfLabels(df, idCol, labels)
  }

  // ------------------------------------------------------------------
  // SimHash (64-bit) near-dup
  // ------------------------------------------------------------------

  /** Token-hash choice for the SimHash family: `XxHash` is the scale
    * default (one multiply-rotate pass per token); `PortableSha` is a
    * 60-bit sha256 prefix computable bit-for-bit in DuckDB, which makes
    * the whole pipeline oracle-checkable (what `SparkEntry` registers). */
  sealed trait TokenHash
  case object XxHash extends TokenHash
  case object PortableSha extends TokenHash

  /** Default token hash for SimHash: codegen'd xxhash64 — the scale
    * path (one multiply-rotate pass per token). */
  def xxTokenHash(t: Column): Column = xxhash64(t)

  /** Portable 60-bit token hash: the first 15 hex chars of sha256,
    * folded to a long. Slower than xxhash64 (a full SHA block per
    * token) but computable bit-for-bit in DuckDB
    * (`sha256` + hex fold), which makes the whole SimHash pipeline
    * oracle-checkable — this is what `SparkEntry` registers. Bits
    * 60–63 are always 0; the sign-sum treats them as constant -1, which
    * both engines mirror, so Hamming distances are unaffected. */
  def portableTokenHash(t: Column): Column =
    // compiled 60-bit sha prefix (≡ the conv/substring chain verbatim;
    // ShaPrefixSpec pins equality) — one digest+fold per token instead
    // of hex render + radix parse
    graft.expressions.ShaPrefixBits.shaPrefixBits(t, 15)

  /** 64-bit SimHash per doc via the one-pass codegen `SimHash64`
    * expression — the production signature path: no token explode, no
    * 64-aggregate shuffle; one projected long per document. The
    * `repartition(id)` is the same materialization-barrier idiom as in
    * the Jaccard/MinHash paths: the signature feeds the band
    * posexplode AND both verification join sides, whose differing
    * output partitionings would otherwise each recompute it (~3× at the
    * profiled query shape). Docs with null/empty token arrays carry a
    * NULL sig (they can never band-match; the aggregate form simply
    * drops them). Output: (id, sig long-or-null). */
  def simhashSignaturesFast(df: DataFrame, idCol: String, textCol: String,
      tokenHash: TokenHash = XxHash): DataFrame =
    df.select(col(idCol).as("id"),
        graft.expressions.SimHashExpressions.simhash64(
          array_distinct(TextAnalysis.tokens(col(textCol))),
          portable = tokenHash == PortableSha).as("sig"))
      .repartition(col("id"))

  /** 64-bit SimHash packed into ONE long, via explode + groupBy: hash
    * each distinct token once, run 64 codegen'd `sum(±1)` aggregates
    * (one per bit of the token hash), then collapse signs into the
    * bits of an int64. A packed long keeps a downstream bucket join
    * shuffling 8 bytes per signature instead of a 64-element array, and
    * makes Hamming distance a single `bit_count(a XOR b)`.
    *
    * REFERENCE implementation: `simhashSignaturesFast` (the one-pass
    * codegen expression) is the production path and is spec'd
    * equivalent to this form for both token hashes; this stays as the
    * independently-derived cross-check and for custom Column-level
    * token hashes. Output: (id, sig long). */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String,
      tokenHash: Column => Column = xxTokenHash): DataFrame = {
    val toks = df
      .select(col(idCol).as("id"),
        explode(array_distinct(TextAnalysis.tokens(col(textCol)))).as("t"))
      .select(col("id"), tokenHash(col("t")).as("h"))
    val bitAggs = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) =!= 0, 1).otherwise(-1))
        .as(s"b$i")
    }
    toks.groupBy("id").agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("id"),
        (0 until 64).map(i =>
          when(col(s"b$i") > 0, lit(1L << (63 - i))).otherwise(lit(0L)))
          .reduce(_ + _).as("sig"))
  }

  /** Band bit-layout for a 64-bit signature split into `numBands`
    * contiguous bands: (shift, width) per band, widths differing by at
    * most one when numBands doesn't divide 64 (pigeonhole needs only
    * "every bit is in exactly one band", not equal widths). */
  private[graft] def simhashBandLayout(numBands: Int): Seq[(Int, Int)] = {
    val base = 64 / numBands
    val rem = 64 % numBands
    val widths = Seq.tabulate(numBands)(j => if (j < rem) base + 1 else base)
    widths.scanLeft(0)(_ + _).zip(widths).take(numBands)
  }

  /** SimHash near-dup pairs: band-bucket join (pigeonhole: Hamming ≤
    * numBands - 1 ⇒ at least one identical band) → exact
    * `bit_count(sig_a XOR sig_b) ≤ maxDist` verification. Candidates
    * travel as bare (id_a, id_b); the 8-byte signatures are joined back
    * only for the verification — same two-shuffle shape as MinHash-LSH.
    *
    * `numBands = 0` (default) picks `max(4, maxDist + 1)` — 4×16 bands
    * for the classic maxDist ≤ 3, widening automatically (e.g. 8×8
    * bands for maxDist 7). The trade is explicit: narrower bands match
    * random pairs at P ≈ numBands / 2^bandWidth instead of 4/2^16, so
    * candidate volume grows as bands narrow — that is the price of
    * recall at larger distances, paid in the (cheap, bare-id) candidate
    * join and bounded again by the exact verification. Bands narrower
    * than 2 bits would candidate nearly every pair, so maxDist is
    * capped at 31 (32×2-bit bands). */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, tokenHash: TokenHash = XxHash,
      numBands: Int = 0): DataFrame = {
    val bands = if (numBands > 0) numBands else math.max(4, maxDist + 1)
    // a maxDist beyond bands - 1 would silently miss qualifying pairs
    // whose differing bits spread across all bands — fail loudly instead
    require(maxDist >= 0 && maxDist <= 31,
      s"simhash banding supports maxDist in [0, 31], got $maxDist")
    require(bands >= maxDist + 1 && bands <= 64,
      s"$bands bands only guarantee recall for maxDist <= ${bands - 1}, " +
        s"got maxDist = $maxDist")
    // null sigs (empty docs) need no explicit filter: a null band bucket
    // never equi-joins, so such docs simply produce no candidates
    simhashPairsFromSigs(
      simhashSignaturesFast(df, idCol, textCol, tokenHash), maxDist, bands)
  }

  /** Pair stage over precomputed (id, sig) rows — split out so specs can
    * plant signatures at exact Hamming distances (text fixtures can't
    * target a distance); production entry is `simhashNearDupPairs`. */
  private[graft] def simhashPairsFromSigs(sigs: DataFrame, maxDist: Int,
      numBands: Int): DataFrame = {
    val layout = simhashBandLayout(numBands)
    // band rows CARRY the signature: the Hamming check runs inside the
    // bucket join itself (one codegen bit_count per candidate) and only
    // QUALIFYING pairs reach the dedupe — on boilerplate-heavy corpora
    // whose bucket groups degenerate toward all-pairs, this removes the
    // two sig re-joins and shrinks the distinct's input from every
    // bucket collision to just the true near-dups (the packed-sig
    // verify the cascade oracle uses, ported Spark-side)
    val banded = sigs.select(col("id"), col("sig"),
      posexplode(array(layout.map { case (shift, width) =>
        // mask via unsigned shift, NOT (1L << width) - 1: for a single
        // 64-bit band `1L << 64` wraps to 1, making the mask 0 and
        // silently bucketing every row together (an O(n²) self-join)
        shiftright(col("sig"), shift).bitwiseAND(lit(-1L >>> (64 - width)))
      }: _*)).as(Seq("band", "bucket")))

    banded.select(col("band"), col("bucket"), col("id").as("id_a"),
        col("sig").as("sig_a"))
      .join(banded.select(col("band"), col("bucket"), col("id").as("id_b"),
        col("sig").as("sig_b")), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming",
        call_function("bit_count", col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
      .distinct()
  }

  // ------------------------------------------------------------------
  // Edit-distance (Levenshtein) near-dup pairs — PassJoin segment index
  // ------------------------------------------------------------------

  /** All pairs of DISTINCT strings within Levenshtein distance
    * `maxDist`, via segment-index blocking (PASS-JOIN: Li, Deng &
    * Feng, VLDB 2011 — public literature, independent implementation).
    *
    * Pigeonhole: partition an indexed string s into k = maxDist+1
    * contiguous segments; any r with ed(s, r) ≤ maxDist must contain
    * SOME segment of s verbatim, starting within ±maxDist of its
    * position in s (each of the ≤ maxDist edits shifts alignments by at
    * most one). So the index side emits its k segments keyed by
    * (|s|, segment#, segment text), and the probe side emits, for every
    * candidate source length |s| ∈ [|r|−maxDist, |r|+maxDist] and every
    * segment slot, the substrings of r in the shifted position window —
    * a constant (2·maxDist+1)²·(maxDist+1) ≈ 45 probes per string at
    * maxDist 2, all built with `Column.substr` (codegen, no UDF).
    *
    * Scale: candidates are generated by an equi-join on (source length,
    * segment#, segment text) — banded, never all-pairs, the same shape
    * as the shingle/minhash/simhash families. Exact verification runs
    * only on surviving candidate pairs, with the early-exit
    * thresholded `levenshtein`. Empty segments (strings shorter than
    * k) degrade to coarser blocking but never lose a pair.
    *
    * Output: (str_a, str_b, dist) with str_a < str_b, dist ∈
    * [1, maxDist] — exact distances, no approximation anywhere.
    */
  /** Even segmentation of a length-`len` codepoint sequence into `k`
    * contiguous segments: the first (len mod k) get ceil(len/k)
    * codepoints, the rest floor(len/k). Returns (start, segLen) pairs. */
  private[graft] def editSegments(len: Int, k: Int): IndexedSeq[(Int, Int)] = {
    val base = len / k
    val rem = len % k
    (0 until k).map(i => (i * base + math.min(i, rem),
      base + (if (i < rem) 1 else 0)))
  }

  /** Distinct non-null strings of `df(strCol)` as a typed Dataset. */
  private def editStrings(df: DataFrame, strCol: String) = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(strCol).cast("string").as("s")).na.drop().distinct().as[String]
  }

  /** Index side: k segments per string, keyed (source length, slot,
    * segment text). Typed flatMap — see [[editDistancePairs]] for why
    * not a Column expression tree. */
  private def editIndexSide(strs: org.apache.spark.sql.Dataset[String],
      k: Int): DataFrame = {
    val spark = strs.sparkSession
    import spark.implicits._
    strs.flatMap { s =>
      val cps = s.codePoints.toArray
      editSegments(cps.length, k).zipWithIndex.map { case ((p, l), i) =>
        (s, cps.length, i, new String(cps, p, l))
      }
    }.toDF("s_idx", "src_len", "slot", "seg")
  }

  /** Probe side: for each candidate source length |s| ∈ [|r|−t, |r|+t]
    * and segment slot, the substrings of r in the ±t shifted window. */
  private def editProbeSide(strs: org.apache.spark.sql.Dataset[String],
      t: Int): DataFrame = {
    val spark = strs.sparkSession
    import spark.implicits._
    val k = t + 1
    strs.flatMap { r =>
      val cps = r.codePoints.toArray
      val m = cps.length
      val out = scala.collection.mutable.LinkedHashSet.empty[(String, Int, Int, String)]
      for (dL <- -t to t) {
        val srcLen = m + dL
        if (srcLen >= 0) {
          val segs = editSegments(srcLen, k)
          for (i <- 0 until k) {
            val (p, l) = segs(i)
            for (d <- -t to t) {
              val q = p + d
              if (q >= 0 && q + l <= m)
                out += ((r, srcLen, i, new String(cps, q, l)))
            }
          }
        }
      }
      out
    }.toDF("s_probe", "src_len", "slot", "seg")
  }

  def editDistancePairs(df: DataFrame, strCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 1 && maxDist <= 8,
      s"maxDist must be in [1, 8], got $maxDist (probe fan-out grows cubically)")
    val k = maxDist + 1

    // The segment/probe generators are typed flatMaps, NOT Column
    // expression trees: a Column formulation repeats the floor(len/k)
    // segmentation subtree inside every one of the (2t+1)²·(t+1)
    // probe structs — measured as a multi-second codegen/compile unit
    // at t=2 (the same O(tree²) trap wordNgrams documents for
    // transform(sequence)). The generator runs over the DISTINCT
    // string universe (titles/names ≪ corpus) and emits a bounded
    // constant per string, so the JVM path costs nothing at scale.
    // Segmentation is over CODEPOINTS to match Spark's
    // length/levenshtein semantics beyond the BMP.
    val strs = editStrings(df, strCol)
    val index = editIndexSide(strs, k)
    val probes = editProbeSide(strs, maxDist)

    val cand = index.join(probes, Seq("src_len", "slot", "seg"))
      .filter(col("s_idx") =!= col("s_probe"))
      .select(least(col("s_idx"), col("s_probe")).as("str_a"),
        greatest(col("s_idx"), col("s_probe")).as("str_b"))
      .distinct()

    cand
      .withColumn("dist", levenshtein(col("str_a"), col("str_b"), maxDist))
      .filter(col("dist") >= 0) // thresholded levenshtein returns -1 beyond maxDist
      .select("str_a", "str_b", "dist")
  }

  /** Cross-corpus edit-distance pairs — the incremental-crawl shape of
    * [[editDistancePairs]], mirroring [[jaccardNearDupPairsAcross]]:
    * which NEW-batch strings sit within `maxDist` edits of something in
    * the REFERENCE corpus. The reference side is segment-indexed, the
    * new side probed — pigeonhole needs only one side indexed, so no
    * left×left or right×right candidates are ever generated. Identical
    * strings across the corpora ARE reported (dist 0 — that is exact
    * cross-contamination, the first thing this shape exists to catch).
    * Output: (str_left, str_right, dist), dist ∈ [0, maxDist]. */
  def editDistancePairsAcross(left: DataFrame, leftStrCol: String,
      right: DataFrame, rightStrCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 1 && maxDist <= 8,
      s"maxDist must be in [1, 8], got $maxDist (probe fan-out grows cubically)")
    val k = maxDist + 1
    val cand = editIndexSide(editStrings(right, rightStrCol), k)
      .join(editProbeSide(editStrings(left, leftStrCol), maxDist),
        Seq("src_len", "slot", "seg"))
      .select(col("s_probe").as("str_left"), col("s_idx").as("str_right"))
      .distinct()
    cand
      .withColumn("dist", levenshtein(col("str_left"), col("str_right"), maxDist))
      .filter(col("dist") >= 0)
      .select("str_left", "str_right", "dist")
  }
}
