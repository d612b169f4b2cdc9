package graft

import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Scale-exponent probe: times a fixed set of the historically slowest
  * graded queries at two data scales (sf0.1 and the ScaleGen 10× slice)
  * and reports the time ratio per query — turning the "no scale-killer"
  * plan-audit argument into a measured exponent (a ratio ≫ factor means
  * super-linear work and needs a plan fix or a documented cap).
  *
  * Protocol per dir: stages cleared, one un-timed warm pass (JIT/codegen
  * absorb), then `Passes` timed passes; per query the MIN is reported
  * (contention-immune, same argument as Bench). Stage builds are timed
  * inside their first consumer here — unlike Bench — because at a new
  * scale the stage build IS part of the cost being measured; the stage
  * phase is then timed per stage on its own ([[Bench.stagePhase]]). */
object ScaleProbe {

  private val Probes = Seq(
    "q158_exact_substring", "q62_winnow_overlap", "q172_xsub_registry",
    "q174_ivfpq_residual", "q126_prefix_jaccard", "q113_cdc_chunks",
    "q165_chunk_dup_bytes", "q159_neardup_registry", "q173_xsub_rolling",
    "q175_xsub_compact", "q190_lsh_geometry", "q196_release_funnel",
    // round-11/12 successors: the packing blast radius, the nightly
    // funnel, the complementarity card, the lifecycle capstone and the
    // NSW takedown-rate curve
    "q200_takedown_blast", "q202_incremental_funnel", "q207_dedup_overlap",
    "q208_release_lifecycle", "q209_nsw_takedown_curve",
    // round-13 successors with scale-relevant shapes: BM25 (corpus
    // tokenize + vocab-pruned scoring), perceptual near-dup (codec pass
    // + banding) and the epoch shuffle (bin manifest + globalRank);
    // q218/q222/q223 are stage-riding aggregates and ride q215's
    // already-probed shape; q224's vocab-sized model joins + doc-
    // partitioned lag are the open-vocabulary LM shape worth a measured
    // exponent of its own
    "q219_bm25_topk", "q220_phash_neardup", "q221_epoch_shuffle",
    "q224_kneser_ney",
    // round-13 second wave: the hybrid fusion (two corpus-scale
    // retrieval passes + list-sized fusion) and the eval-side severity
    // card (one corpus shingle scan vs a broadcast bench); q229/q230
    // are stage-riding aggregates over already-probed scores
    "q228_hybrid_rrf", "q231_eval_contamination",
    // round-14 successors: the mix manifest (source-partitioned cumsum
    // + instance packing + epoch-shuffle digest), the postings
    // lifecycle (compaction + BM25 over the restricted postings), and
    // the cross-modal card (phash pairs + SemDeDup prune joined);
    // q238/q240 are pure stage-riding projections/receipts and need no
    // exponent of their own
    "q236_mix_manifest", "q237_postings_lifecycle", "q239_modal_agreement",
    // round-15 successors with shapes of their own: the rebalance
    // night (a second full realization over survivors), the release→
    // mix capstone (admitted realization + packing off the gate
    // stages), the filtered-ANN card (a shared over-fetched probe pass
    // + per-filter exact scans), the length curve (four greedy
    // manifest passes) and the bin QA (packed-manifest joins);
    // q248/q249/q250 are k-row waterfill/projection cards over
    // already-probed stages and need no exponent of their own
    "q243_mix_rebalance", "q244_release_mix", "q245_filtered_ann",
    "q246_packing_length_curve", "q247_shard_qa",
    // q251 adds the per-partition quantizer training to q245's shape;
    // q252 re-packs the manifest in a second unit (the BPE encode cost
    // lives in the bpe_tokens stage, measured on its own clock)
    "q251_partitioned_ann", "q252_bpe_packing",
    // q253 is a bin-count-sized rank over two persisted stages but its
    // globalRank + decile cut is the exact-ordering shape worth a
    // measured exponent alongside q221's
    "q253_curriculum_order",
    // round-15.5 successors: the dual-meter governed packing (two
    // greedy passes over the same admitted multiset in different
    // units), the frozen partitioned-ANN lifecycle (per-predicate
    // centroid tables + append/takedown recall points), and the
    // two-phase schedule (two realizations + two packings + the
    // decile-ordered anneal rank)
    "q254_release_bpe_pack", "q255_part_index_nights",
    "q256_training_schedule",
    // round-16 members with manifest-scale shapes: the stream layout's
    // per-shard cumsum window over the full doc manifest (q257), the
    // shuffle-QA card's bin-keyed joins + pos+1 self-join (q259), and
    // the vocab-growth card's one tokenize pass + (term, bucket)
    // shuffle (q263); q258/q260/q261/q262 are bin-sized, 5-group or
    // domain-sized cards over already-probed stages/manifests and need
    // no exponent of their own
    "q257_stream_packing", "q259_shuffle_qa", "q263_vocab_growth",
    // round-17: the BPE-metered composed schedule adds the doc_bpe
    // join + two BPE realizations/packings to q256's shape — the
    // trainer-facing manifest whose exponent matters most
    "q271_bpe_schedule",
    // round-18: the quality-bar curves register the ten-threshold
    // anneal realizations (ws + BPE) — ten pool-sized cumsum windows
    // per unit, the one stage family that had no measured exponent;
    // the curve queries themselves are 10-row cards
    "q272_anneal_quality_bar", "q279_anneal_quality_bar_bpe")
  private val Passes = 2

  /** The super-linearity gate: at 10×
    * data no probe query and no stage may exceed 10× time — anything
    * past the data factor is a super-linear shape that will not
    * survive 100 TB. The by-construction-linear gram family
    * (xsub_batch_stats 8.95×, xsub_stats 6.04×, winnow 5.73× at r17)
    * runs closest to the line; violations are recorded IN the artifact
    * (`gate_violations`) and `ScaleProbeGateSpec` fails the build on
    * the committed SCALEPROBE_rN.json. */
  private[graft] val GateFactor = 10.0

  /** The one-line JSON artifact, committed as SCALEPROBE_rN.json and read
    * by `ScaleProbeGateSpec`: every query and stage as [small s, big s,
    * ratio] (ratio -1 where a side failed), every ratio past [[GateFactor]]
    * by name in `gate_violations`, big maps first and summary scalars
    * last. Pure, so a spec can pin the writer against the gate's reader. */
  def artifact(smallDir: String, bigDir: String, probes: Seq[String],
      tSmall: Map[String, Double], tBig: Map[String, Double],
      sSmall: Map[String, Double], sBig: Map[String, Double]): String = {
    def cells(small: Map[String, Double], big: Map[String, Double],
        keys: Seq[String]) =
      keys.map(k => (k, small.getOrElse(k, -1.0), big.getOrElse(k, -1.0)))
    val qs = cells(tSmall, tBig, probes)
    val ss = cells(sSmall, sBig, (sSmall.keySet ++ sBig.keySet).toSeq.sorted)
    def obj(cs: Seq[(String, Double, Double)]) = JObject(cs.map {
      case (k, a, b) =>
        k -> JArray(List(Bench.num(a, 2), Bench.num(b, 2), Bench.num(ratio(a, b), 2)))
    }.toList)
    val violations = JObject((qs ++ ss).collect {
      case (k, a, b) if ratio(a, b) > GateFactor => k -> Bench.num(ratio(a, b), 2)
    }.toList)
    val (sa, sb, ta, tb) = (total(tSmall), total(tBig), total(sSmall), total(sBig))
    compact(render(("queries" -> obj(qs)) ~ ("stages" -> obj(ss)) ~
      ("small_dir" -> smallDir) ~ ("big_dir" -> bigDir) ~
      ("passes" -> Passes) ~ ("n_probes" -> probes.length) ~
      ("gate_factor" -> GateFactor) ~ ("gate_violations" -> violations) ~
      ("q_small_total" -> Bench.num(sa, 2)) ~ ("q_big_total" -> Bench.num(sb, 2)) ~
      ("q_ratio" -> Bench.num(ratio(sa, sb), 3)) ~
      ("stage_small_total" -> Bench.num(ta, 2)) ~
      ("stage_big_total" -> Bench.num(tb, 2)) ~
      ("stage_ratio" -> Bench.num(ratio(ta, tb), 3)) ~
      ("metric" -> "scale_ratio_10x")))
  }

  /** big / small, or -1 when either side failed. */
  private def ratio(small: Double, big: Double): Double =
    if (small > 0 && big > 0) big / small else -1.0

  private def total(m: Map[String, Double]): Double = m.values.filter(_ >= 0).sum

  def main(args: Array[String]): Unit = {
    val small = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val big = if (args.length > 1) args(1) else "/root/repo/tmp/scale10"
    val spark = Sessions.local("graft-scaleprobe")

    /** The stage phase at this scale, per stage, min of `Passes`. */
    def timeStages(dir: String): Map[String, Double] = {
      val obs = Seq.fill(Passes)(Bench.stagePhase(spark, dir, Probes)._2.toMap)
      obs.flatMap(_.keys).distinct
        .map(k => k -> Bench.minOk(obs.flatMap(_.get(k)))).toMap
    }

    /** One untimed warm pass, then `Passes` stage-cold timed passes. */
    def timeDir(dir: String): Map[String, Double] = {
      Bench.dropStages()
      Probes.foreach(Bench.timeCount(spark, dir, _))
      val obs = Seq.fill(Passes) {
        Bench.dropStages()
        Probes.map(n => n -> Bench.timeCount(spark, dir, n).fold(_ => -1.0, _._2)).toMap
      }
      Probes.map(n => n -> Bench.minOk(obs.map(_(n)))).toMap
    }

    val tSmall = timeDir(small)
    val tBig = timeDir(big)
    val sSmall = timeStages(small)
    val sBig = timeStages(big)
    spark.stop()
    def table(label: String, small: Map[String, Double],
        big: Map[String, Double], keys: Seq[String]): Unit = {
      println(s"| $label | sf0.1 s | 10x s | ratio |")
      println("|---|---|---|---|")
      keys.foreach { k =>
        val (a, b) = (small.getOrElse(k, -1.0), big.getOrElse(k, -1.0))
        val r = if (ratio(a, b) < 0) "err" else f"${ratio(a, b)}%.2f"
        println(f"| $k | $a%.2f | $b%.2f | $r |")
      }
      println(f"$label totals small=${total(small)}%.2f " +
        f"big=${total(big)}%.2f ratio=${total(big) / total(small)}%.2f")
      println()
    }
    table("query", tSmall, tBig, Probes)
    table("stage", sSmall, sBig,
      sSmall.keys.toSeq.sortBy(k => -sBig.getOrElse(k, 0.0)))
    // printed LAST: the artifact is the run's final stdout line
    println(artifact(small, big, Probes, tSmall, tBig, sSmall, sBig))
    System.out.flush()
  }
}
