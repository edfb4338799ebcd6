package graft

import org.scalatest.funsuite.AnyFunSuite
import SharedSpark._

/** Registry-wide Generate budget (round 15, VERDICT r14 item 8): the r14
  * GenScan sweep found duplicated corpus passes by comparing each plan's
  * Generate (explode) count to its fundamental scan-backed pass count —
  * bm25 planned 4 explodes for its 2 fundamental passes, tfidf 2 for 1.
  * That sweep was a one-shot tool; this spec pins every registered
  * query's CURRENT Generate count as a ceiling, so a refactor (or a
  * Catalyst upgrade breaking the exchange-reuse seeds) that silently
  * re-plans a corpus explode per consumer fails the build instead of
  * regressing performance quietly.
  *
  * Budgets are the audited counts of the r14/r15 plans (each one equals
  * the query's fundamental pass count — the multi-Generate rows are
  * multi-stage BY DESIGN: substring gram streams, minhash banding, BPE's
  * two stages, the overlap report's seven screens). A DECREASE is fine
  * (tighten the budget when it happens); an increase is the regression
  * this spec exists to catch. Static plans only — nothing executes except
  * the builder-side eager steps some queries already pay in
  * QueriesSmokeSpec.
  */
class GenBudgetSpec extends AnyFunSuite {

  private lazy val staticSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  /** Audited Generate counts at round 15 close (queries absent here have
    * budget 0). */
  private val budget: Map[String, Int] = Map(
    "agg_vector_centroid" -> 1,
    "bigram_lm_score" -> 1,
    "bm25_topk" -> 2,
    "bpe_encode" -> 2,
    "bpe_merge_pairs" -> 2,
    "chunk_dedup" -> 1,
    "contamination_check" -> 2,
    "dedup_edit_distance" -> 3,
    "dedup_embedding_doc_lsh" -> 1,
    "dedup_embedding_lsh" -> 2,
    "dedup_embedding_lsh_eqmass" -> 2,
    "dedup_exact_substring" -> 5,
    "dedup_exact_substring_capped" -> 7,
    "dedup_exact_substring_probe" -> 4,
    "dedup_minhash_lsh" -> 3,
    "dedup_ngram_jaccard" -> 3,
    // r15: the report's registered plan roots at the checkpointed flag
    // union (PlanShapeSpec pins the truncation); the screens' 15 Generates
    // now run inside the builder's union plan, not the registered one;
    // the flag-union test below caps them.
    "dedup_overlap_report" -> 0,
    "dedup_simhash" -> 1,
    "dedup_substring_rewrite" -> 4,
    "doc_chunking" -> 1,
    "dsir_importance_sample" -> 1,
    "dsir_importance_topk" -> 1,
    "join_skew_salted" -> 1,
    "knn_lsh_bucketed" -> 2,
    "lang_id" -> 1,
    "line_dedup_rebuild" -> 2,
    "map_explode" -> 1,
    "ngram_bigrams" -> 1,
    "ngram_novelty" -> 1,
    "ngram_novelty_probe" -> 1,
    "repetition_score" -> 1,
    "sketch_countmin_hh" -> 2,
    "source_kl_drift" -> 1,
    "source_similarity" -> 1,
    "tfidf_top_terms" -> 1,
    "token_diversity" -> 1,
    "tokenize_wordcount" -> 1,
    "vocab_coverage" -> 2,
    "weighted_sample" -> 1)

  test("no registered query plans more Generates than its audited budget") {
    val over = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(staticSession, Sf001).queryExecution.executedPlan.toString()
      val gens = "Generate".r.findAllIn(plan).size
      val cap = budget.getOrElse(name, 0)
      if (gens > cap) Some(s"$name: $gens Generates > budget $cap") else None
    }
    assert(over.isEmpty,
      s"duplicated-explode regression (a consumer stopped sharing its base " +
        s"subtree — see BENCH_NOTES §42/§53 and the seed/count-reference " +
        s"defenses):\n  ${over.mkString("\n  ")}")
  }

  /** The overlap report's seven screens plan inside the flag union its
    * builder checkpoints, so the registered plan above shows none of
    * their Generates (budget 0 above). This ceiling covers that union:
    * the audited count at round 15 close. */
  private val flagUnionBudget = 15

  test("the overlap report's flag union plans no more Generates than its audited budget") {
    val plan = graft.queries.DedupOverlap.flagUnion(staticSession, Sf001)
      .queryExecution.executedPlan.toString()
    val gens = "Generate".r.findAllIn(plan).size
    assert(gens <= flagUnionBudget,
      s"flag union: $gens Generates > budget $flagUnionBudget (a screen " +
        "stopped sharing its corpus pass with the others)")
  }
}
