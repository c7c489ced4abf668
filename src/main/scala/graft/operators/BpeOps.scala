package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Byte-pair-encoding trainer primitives over the `documents` table — the
  * tokenizer-training stage of an LLM data pipeline, distributed the way
  * the algorithm actually distributes: BPE statistics live on the VOCAB
  * (distinct word, count), which the corpus reduces to with one
  * partial+final hash agg; every merge round is then one pair-count
  * aggregation over that vocabulary plus a per-row symbol rewrite. The
  * corpus text is touched exactly once, no matter how many merge rounds
  * run.
  *
  * Declared surface: `bpe_pair_counts` — the pair-statistics round (the
  * distributed primitive every round repeats) — and `bpe_encode` — the
  * trained merge list applied to tokenize the corpus (the half a
  * pipeline runs at 100 TB: train once, encode everywhere) — both
  * oracle-checked. The iterative trainer ([[bpeTrain]]) is library
  * surface: its per-round
  * driver traffic is ONE argmax row (the winning pair), the vocabulary
  * stays distributed, and per-round state is localCheckpoint-bounded
  * (the CC-loop lineage lesson); BpeSpec proves 5 rounds equal a
  * sequential reference implementation merge-for-merge.
  *
  * Scale notes (100 TB): the vocab aggregate is the same
  * corpus-to-vocab reduction `unigram_logprob` ships (map-side combine
  * collapses partitions to distinct words); pair rows per round are
  * ≤ Σ|w|−1 over the vocab — vocabulary-cardinality, so nothing here is
  * ever broadcast-hinted; the symbol rewrite is a per-row HOF fold
  * inside codegen. Production trainers batch merges per round — the
  * plumbing is identical, only the argmax takes top-k.
  */
object BpeOps extends QueryModule {

  /** (w, wc) word-frequency vocabulary of any documents-shaped frame —
    * the corpus-to-vocab reduction every tokenizer/LM query rides, and
    * (because word counts over a disjoint document partition are purely
    * ADDITIVE) the per-batch partial the streaming vocab refresh lands
    * ([[graft.streaming.DocIngest.startVocabPartials]]).
    */
  private[graft] def vocabOf(docs: DataFrame): DataFrame =
    docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("wc"))

  /** (w, wc) word-frequency vocabulary of the corpus. */
  private[graft] def vocab(s: SparkSession, d: String): DataFrame =
    vocabOf(documents(s, d))

  /** Adjacent symbol pairs of an array column via zip_with over shifted
    * slices — the documented escape from the CollapseProject per-index
    * element_at trap.
    */
  private def adjacentPairs(syms: Column): Column =
    zip_with(
      slice(syms, lit(1), size(syms) - 1),
      slice(syms, lit(2), size(syms) - 1),
      (a, b) => struct(a.as("a"), b.as("b")),
    )

  /** One greedy left-to-right merge application: fold the symbol array,
    * fusing every non-overlapping (a, b) occurrence into a+b — exactly
    * the reference BPE rewrite ("aaa" under (a,a) → ["aa", "a"]).
    */
  private[graft] def applyMerge(syms: Column, a: String, b: String): Column = {
    val merged = lit(a + b)
    aggregate(
      syms,
      array().cast("array<string>"),
      (acc, x) =>
        // non-overlap falls out of the greedy fold: a just-fused element
        // is a+b, which can never equal bare `a` again (b is nonempty)
        when(
          size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(merged)),
        ).otherwise(concat(acc, array(x))),
    )
  }

  /** Distributed BPE training: `rounds` merges over the corpus vocab.
    * Returns the ordered merge list. Driver traffic per round = one
    * (a, b, cnt) argmax row; ties break lexicographically so the result
    * is deterministic at any partitioning.
    */
  private[graft] def bpeTrain(vocabDf: DataFrame, rounds: Int): Seq[(String, String)] = {
    var syms = vocabDf
      .select(
        col("wc"),
        expr("transform(sequence(1, char_length(w)), i -> substring(w, i, 1))").as("syms"),
      )
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val top = syms
        .select(col("wc"), explode(adjacentPairs(col("syms"))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("wc").as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1)
        .collect()
      if (top.isEmpty) done = true
      else {
        val (a, b) = (top(0).getAs[String]("a"), top(0).getAs[String]("b"))
        merges += ((a, b))
        val next = syms
          .withColumn("syms", applyMerge(col("syms"), a, b))
          .localCheckpoint()
        // a checkpoint leaf's blocks belong to its RDD: Dataset.unpersist
        // would leave every round's symbol table in the block manager
        graft.SubstrateCache.release(syms)
        syms = next
        r += 1
      }
    }
    graft.SubstrateCache.release(syms)
    merges.toSeq
  }

  /** Fold a whole merge list over a symbol-array column, in training
    * order, by CHAINING one fold per merge. Kept as the reference
    * formulation ([[applyMerges]] is the production one): the chained
    * expression tree grows linearly with the merge count, and Catalyst
    * planning + codegen on a depth-`merges.size` nested-lambda tree
    * dominated execution 10× at bench scale — the merge list belongs in
    * DATA, not in the expression tree.
    */
  private[graft] def applyMergesChained(syms: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(syms) { case (c, (a, b)) => applyMerge(c, a, b) }

  /** The production merge-list fold: the merges ride as a LITERAL ARRAY
    * of (a, b) structs — data, exactly how a trained tokenizer ships its
    * merges file — and one two-level `aggregate` folds them over the
    * symbol array (outer fold over merges, inner greedy fold over
    * symbols). The expression tree is CONSTANT-SIZE no matter how many
    * merges the model has (a real BPE vocab carries 30k–100k), so plan
    * analysis and codegen cost never grow with the model; semantics are
    * merge-for-merge identical to the chained form (BpeSpec pins the
    * equivalence on the corpus vocab).
    */
  private[graft] def applyMerges(syms: Column, merges: Seq[(String, String)]): Column = {
    val mlit = array(merges.map { case (a, b) => struct(lit(a).as("a"), lit(b).as("b")) }: _*)
    aggregate(
      mlit,
      syms,
      (acc, m) =>
        aggregate(
          acc,
          array().cast("array<string>"),
          (a2, x) =>
            when(
              size(a2) > 0 && element_at(a2, -1) === m.getField("a") && x === m.getField("b"),
              concat(
                slice(a2, lit(1), size(a2) - 1),
                array(concat(m.getField("a"), m.getField("b"))),
              ),
            ).otherwise(concat(a2, array(x))),
        ),
    )
  }

  /** The merge list [[bpeTrain]] produces on the `documents` corpus at
    * the verification scale (10 rounds, sf0.01) — the "model artifact"
    * the encoder below applies, pinned as a literal the way a production
    * pipeline ships its tokenizer file. Later merges reference earlier
    * merged tokens (`m`+`er`, `p`+`ar`), so the chain order matters and
    * the encoder is exercised beyond single-character fusions.
    */
  private[graft] val EncodeMerges: Seq[(String, String)] = Seq(
    "e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r", "s" -> "t",
    "m" -> "er", "a" -> "t", "l" -> "u", "a" -> "r", "p" -> "ar")

  /** Per-word BPE token counts under the shipped [[EncodeMerges]] model:
    * (w, wtok) for every distinct non-empty corpus word. The encoder
    * runs once per DISTINCT word (vocabulary-cardinality); consumers
    * join this back to per-document words for real token accounting
    * (`sequence_pack_bpe` packs by these instead of whitespace counts).
    */
  def bpeWordTokenCounts(s: SparkSession, d: String): DataFrame =
    // substrate-cached: the merge fold is the expensive half of every
    // consumer (sequence_pack_bpe, token_fertility), and "train once,
    // encode everywhere" means the per-vocab-word token table is exactly
    // the artifact a pipeline materializes once per tokenizer version
    graft.SubstrateCache.substrate(s, d, "bpe-word-tokens") {
      vocab(s, d)
        .filter(col("w") =!= "")
        .select(
          col("w"),
          expr("transform(sequence(1, char_length(w)), i -> substring(w, i, 1))").as("syms"),
        )
        .withColumn("syms", applyMerges(col("syms"), EncodeMerges))
        .select(col("w"), size(col("syms")).cast("long").as("wtok"))
    }

  /** The DuckDB unrolled-merge chain `m1..mN` over a base CTE `m0(…,
    * enc)`, carrying `carry` through each step — shared by the
    * `bpe_encode` oracle (carry = wc) and the `sequence_pack_bpe`
    * oracle (carry = w), so the fold text cannot drift.
    */
  private[operators] def encodeStepsDuck(carry: String): String = {
    val sep = "chr(1)"
    EncodeMerges.zipWithIndex
      .map { case ((a, b), i) =>
        val drop = 1 + a.length
        s"""m${i + 1} AS (SELECT $carry,
           |  list_reduce(list_prepend('', list_filter(string_split(enc, $sep), s -> s <> '')),
           |    (acc, x) -> CASE WHEN ends_with(acc, $sep || '$a') AND x = '$b'
           |                     THEN left(acc, length(acc) - $drop) || $sep || '$a$b'
           |                     ELSE acc || $sep || x END) AS enc
           |  FROM m$i)""".stripMargin
      }
      .mkString(",\n")
  }

  private[operators] def lastEncodeStep: String = s"m${EncodeMerges.size}"

  /** The production half of BPE — train once, encode everywhere: apply
    * the fixed trained merge list to tokenize the corpus and report the
    * top-20 BPE token frequencies (count desc, token asc). Like
    * `bpe_pair_counts`, the corpus reduces to the (word, count) vocab
    * first, so the encoder runs once per DISTINCT word and token counts
    * come back weighted by word frequency — at 100 TB the fold cost is
    * vocabulary-cardinality, not corpus-cardinality, and the merge list
    * itself is a fixed-size literal in the plan (nothing broadcast,
    * nothing shuffled beyond the vocab agg it shares with every other
    * vocab query). The oracle unrolls the same 10 greedy folds as
    * chained CTEs, each a `list_reduce` over the token list encoded as a
    * chr(1)-separated string (DuckDB's fold accumulator must be scalar).
    */
  private val bpeEncode = DeclaredQuery(
    "bpe_encode",
    (s, d) => {
      val base = vocab(s, d)
        .filter(col("w") =!= "")
        .select(
          col("wc"),
          expr("transform(sequence(1, char_length(w)), i -> substring(w, i, 1))").as("syms"),
        )
      base
        .withColumn("syms", applyMerges(col("syms"), EncodeMerges))
        // explode_outer, deliberately: plain explode plants an implicit
        // `size(syms) > 0 AND isnotnull(syms)` filter, and because syms
        // derives from the GROUPING KEY, predicate pushdown legally
        // moves it below the vocab aggregate — re-evaluating the whole
        // merge fold twice per raw TOKEN instead of once per vocab word
        // (measured 13.8 s vs 0.6 s at sf0.1). syms is never empty
        // (w <> ''), so outer ≡ inner here and the filter never exists.
        .select(col("wc"), explode_outer(col("syms")).as("token"))
        .groupBy("token")
        .agg(sum("wc").as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(20)
    }, {
      val sep = "chr(1)"
      Some(s"""WITH w0 AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
           v AS (SELECT w, count(*) AS wc FROM w0 WHERE w <> '' GROUP BY w),
           m0 AS (SELECT wc,
                         $sep || array_to_string(
                           list_transform(generate_series(1, length(w)), i -> substr(w, i, 1)),
                           $sep) AS enc
                  FROM v),
           ${encodeStepsDuck("wc")},
           toks AS (SELECT wc, unnest(list_filter(string_split(enc, $sep), s -> s <> '')) AS token
                    FROM $lastEncodeStep),
           c AS (SELECT token, CAST(sum(wc) AS BIGINT) AS cnt FROM toks GROUP BY token)
           SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT 20""")
    },
  )

  /** The pair-statistics round as a declared, oracle-checked query: for
    * every adjacent character pair inside a word, the corpus-wide
    * occurrence count (weighted by word frequency) — the quantity whose
    * argmax IS the next BPE merge. Top 20 by count (pair breaks ties).
    */
  private val bpePairCounts = DeclaredQuery(
    "bpe_pair_counts",
    (s, d) => {
      vocab(s, d)
        .select(
          col("wc"),
          explode(
            expr(
              """IF(char_length(w) >= 2,
                    transform(sequence(1, char_length(w) - 1), i -> substring(w, i, 2)),
                    array())""",
            ),
          ).as("pair"),
        )
        .groupBy("pair")
        .agg(sum("wc").as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(20)
    },
    Some("""WITH w0 AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
            v AS (SELECT w, count(*) AS wc FROM w0 GROUP BY w),
            p AS (SELECT wc,
                         unnest(CASE WHEN length(w) >= 2
                                THEN list_transform(generate_series(1, length(w) - 1),
                                                    i -> substr(w, i, 2))
                                ELSE []::VARCHAR[] END) AS pair
                  FROM v),
            c AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS cnt FROM p GROUP BY pair)
            SELECT pair, cnt FROM c ORDER BY cnt DESC, pair LIMIT 20"""),
  )

  val queries: Seq[DeclaredQuery] = Seq(bpePairCounts, bpeEncode)
}
