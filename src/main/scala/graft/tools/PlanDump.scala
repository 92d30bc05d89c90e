package graft.tools

import java.nio.file.{Files, Paths}

import graft.queries.Registry

/** Dump formatted physical plans of headline queries to PLANS.md — the
  * "is this the plan you'd want at 100 TB" review artifact. Regenerate
  * after plan-affecting changes:
  *   sbt "runMain graft.tools.PlanDump"
  */
object PlanDump {

  val Headline: Seq[(String, String)] = Seq(
    "q1_tpch_full" -> "partial+final hash aggregate; decimal sums; scan reads only referenced columns",
    "p1_filter_project" -> "filter + projection pushed into the parquet scan (PushedFilters / ReadSchema)",
    "j2_dim_join" -> "dimension chain as BroadcastHashJoin — fact table never shuffles",
    "w2_topk_sort" -> "top-k as TakeOrderedAndProject — no global sort materialization",
    "j4_selfjoin_grid" -> "self-join shuffles once on the key; 9x9 grid arrives via broadcast nested loop",
    "dedup_minhash" -> "signature minima as codegen'd aggregates; banded bucket join bounds candidates",
    "sim_cosine_all" -> "custom DotProduct expression inside WholeStageCodegen; 1-row broadcast query vector",
    "e2_sessionize" -> "single window shuffle on user_id for lag + running sum + session aggregate",
    "sim_lsh_pairs" -> "ids-only band self-join (no vectors in the candidate shuffle); verify joins vectors back",
    "skew_salted_agg" -> "two-stage salted aggregate: partial decimal sums per (key, salt), exact merge per key",
    "pipeline_embed_split" -> "whole training-data pipeline as one plan: gate, dedup, embedding join, near-dup drop, split, stats",
    "decontam_ngram" -> "benchmark shingles distinct-reduced then BROADCAST into the corpus membership join — corpus side never shuffles for the probe",
    "dedup_incremental" -> "exact tier joins fingerprints, near tier shuffles hashed shingles only — cost tracks shared-shingle volume, never |in|x|ex|",
    "pipeline_pretraining_mix" -> "decontaminate -> dedup -> temperature-mix -> report as ONE lazy plan; ONE shingle aggregate (broadcast-left membership), one (doc_id, lang, fp, n_tok) projection feeds every stage",
    "q3_shipping_priority" -> "pinned join shape: filtered customer dim BROADCASTS, orders x lineitem SHUFFLES on the natural key with the selective side as build - the fact scan never broadcasts",
    "flagship_time_resolution_caruana" -> "whole flagship chain in bit-portable tiers: median->MAD fused into ONE linear window chain over ONE exchange (subset-key partitioning, k2 exploded post-shuffle), Knuth-hash bootstrap weights, Caruana closed-form fit",
    "dedup_lines" -> "line dedup with NO window: first-occurrence = min(struct(id,pos)) hash aggregate (map-side partials collapse corpus-hot lines); short lines bypass the dedup shuffle entirely",
    "a8_ecdf" -> "scale-safe ECDF: hash-aggregate to distinct-value counts, window over the bounded distinct-value table, join back - no group ever becomes one sort task",
    "dedup_components_chain" -> "planted diameter-999 chain via alternating-star rewiring - O(log n) rounds on any graph shape; labels scratch-materialized on the executors, never collected",
    "sim_ivfpq_fixed_topk" -> "the 100 TB ANN shape: coarse-cell probe filter -> broadcast-codebook ADC shortlist -> exact re-rank; index table is (id, cluster, codes)",
    "dedup_semantic_pairs" -> "SemDeDup: nearest-centroid assignment, pair join INSIDE each cell - cluster column doubles as storage partition key",
    "text_lm_score" -> "char-trigram LM scoring: min-count-capped model broadcasts (bounded on junk corpora, not just real text); scoring is ONE map-only pass — a code-point window over each doc against packed-key model maps, no per-trigram rows, no shuffle",
    "pipeline_perplexity_mix" -> "CCNet-shaped mix: map-only LM scoring -> broadcast per-source median gate -> budget fill with rank-guard + ROWS cumsum (WindowGroupLimit prunes map-side) -> per-source report",
    "text_hybrid_rrf" -> "RRF fusion: both retrievers keep their own scale-safe plans; ranks + full-outer fuse run over the already-cut top-k lists (bounded windows)",
    "j_bloom_prune" -> "bloom literal (built by a distributed mergeable sketch aggregate, collected as ONE row) filters the probe scan MAP-SIDE before the exact semi join — the runtime-filter pattern made explicit",
    "maint_snapshot_diff" -> "CDC diff: ONE full-outer hash join on the key; change classification is row-local CASE arithmetic, nothing windows",
    "e4_asof_nearest" -> "nearest as-of: ONE exchange on the key, TWO sorts (backward carry-forward + forward carry-backward windows), row-local nearer-pick — no range-join row explosion",
    "stat_mannwhitney" -> "rank statistic on the sharded kernel: distinct-value relation, hash-partitioned per-shard cumulative windows, bounded offsets broadcast; integer rank sums, one-row IEEE tail",
    "stat_spearman" -> "two sharded-rank relations (quantity discrete, price near-continuous — no corpus-wide window either way) hash-joined back to rows; exact BIGINT moments, one-row IEEE tail",
    "sketch_cms_topk" -> "count-min counters: d map passes over the scan union into ONE bounded (d x w)-cell aggregate; estimates via a bounded counter join, min over d cells",
    "sketch_hll_distinct" -> "HLL registers: map-side partial MAX aggregate collapsing to 256 cells before the exchange; estimate is a 1-row fold, exact-count side by side",
    "text_entropy" -> "char explode combines map-side to <= alphabet rows per doc before the shuffle; DetAgg decimal weighted sum; bounded top-100 TakeOrdered",
    "emb_quantize_int8" -> "per-dim scale as a 64-row BROADCAST; quantize + checksum in one hash aggregate over the exploded relation — embarrassingly parallel")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.GraftSession.local()
    val byName = Registry.all.map(q => q.name -> q).toMap
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of headline queries\n\n")
    sb.append(s"Generated by `graft.tools.PlanDump` against `$sfDir`.\n")
    sb.append("Each plan is the shape the 100 TB argument rests on; PlanSpec\n")
    sb.append("pins the load-bearing properties in CI.\n")
    Headline.foreach { case (name, note) =>
      val q = byName(name)
      val df = q.run(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name\n\n_${note}_\n\n```\n")
      // the operator tree + scan details; drop the verbose per-node schemas
      val lines = plan.linesIterator.toSeq
      val cut = lines.indexWhere(_.startsWith("(1) "))
      val tree = if (cut > 0) lines.take(cut) else lines
      val scanDetails = lines.filter(l =>
        l.contains("PushedFilters") || l.contains("ReadSchema") || l.contains("DataFilters"))
      sb.append(tree.mkString("\n")).append("\n")
      if (scanDetails.nonEmpty) sb.append(scanDetails.mkString("\n")).append("\n")
      sb.append("```\n")
    }
    // keep the hand-maintained appendix (historical scale curves) that
    // starts at PLANS.md's "## ScaleProbe" heading
    val existing = if (Files.exists(Paths.get("PLANS.md")))
      Files.readString(Paths.get("PLANS.md")) else ""
    val keepFrom = existing.indexOf("\n## ScaleProbe")
    if (keepFrom >= 0) sb.append(existing.substring(keepFrom))
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"PLANS.md written (${Headline.size} plans)")
    spark.stop()
  }
}
