package graftbench

/** Outputs pinned at the default seed (`Inputs.DefaultSeed`) and the sizes
  * in `Main`, measured on the pipeline as the benchmark was introduced. */
object Pins {
  /** batch_dedup: label-free digest of the facade's clusters */
  val batchDigest: Option[String] = Some("7f7454eec46c9d72")
  val batchClustered: Option[Long] = Some(1530L)
  /** traced lsh_pairs run: the stream window's latest cluster snapshot */
  val streamDigest: Option[String] = Some("d0b43b4220eb38cf")
  /** traced batch_dedup run: clusters after the day append */
  val dayDigest: Option[String] = Some("b1d0efda4690ab3f")
  /** lsh_pairs query -> "rows:digest" of its sorted output */
  val lshPairs: Map[String, String] = Map(
    "q03_dup_pairs_minhash" -> "11854:50b4587533544819",
    "q07_simhash_pairs" -> "993:cf2956ed634ec196",
    "q04_clusters" -> "1258:79e35653c1a807d1",
    "q27_family_overlap" -> "1:721115a1c9a51302")

  /** query -> (rows, checksum) over the query tables, which are always
    * generated at the default seed. The checksum is None for the three
    * randomized queries (LSH and IVF candidate sampling, row sampling), whose
    * rows are pinned only. */
  val queries: Map[String, (Long, Option[Long])] = Map(
    "q01_doc_stats" -> (5L, Some(-4786967790961711957L)),
    "q02_shingles" -> (1000L, Some(-7806798336659641351L)),
    "q03_dup_pairs_minhash" -> (1464L, Some(-6800983970616268000L)),
    "q04_clusters" -> (414L, Some(-1078553520792358219L)),
    "q05_cluster_sizes" -> (165L, Some(7002952806761877117L)),
    "q06_band_census" -> (23L, Some(-8325505536802129873L)),
    "q07_simhash_pairs" -> (249L, Some(3644396989313062266L)),
    "q08_exact_dup_stats" -> (1L, Some(-2109730405713963633L)),
    "q09_exact_dedup" -> (999L, Some(2899247300964138030L)),
    "q10_token_stats" -> (1000L, Some(364051734647768845L)),
    "q11_quality" -> (1000L, Some(4710769138120219352L)),
    "q12_langid" -> (10L, Some(-5350958716904618788L)),
    "q13_lang_source_rollup" -> (106L, Some(3747533752164384178L)),
    "q14_events_json" -> (5L, Some(-5283315007455983771L)),
    "q15_events_topk" -> (303L, Some(-875022578493315492L)),
    "q16_ann_topk" -> (1250L, Some(-3894675465045437231L)),
    "q17_ann_lsh_topk" -> (1250L, None),
    "q18_cosine_dups" -> (3085L, Some(-807428534943465624L)),
    "q19_seg_join" -> (5L, Some(-189385165609320766L)),
    "q20_extract_roundtrip" -> (1L, Some(8774225172799402210L)),
    "q21_substr_pairs" -> (1257L, Some(2143367105789008550L)),
    "q22_eac_clusters" -> (495L, Some(7188917892696880503L)),
    "q23_lang_signature" -> (5L, Some(6559800982824856118L)),
    "q24_media_meta" -> (1000L, Some(-7335513988914311089L)),
    "q25_normalize" -> (1000L, Some(7886293529278149680L)),
    "q26_shingle_card" -> (1L, Some(-3079884769935258154L)),
    "q27_family_overlap" -> (1L, Some(6928969603380771465L)),
    "q28_fingerprints" -> (1000L, Some(123070825135938233L)),
    "q29_dedupe" -> (751L, Some(-123267192343097117L)),
    "q30_substr_containment" -> (1L, Some(-2066923189867626212L)),
    "q31_shingle_card_approx" -> (1L, Some(8651435246646289849L)),
    "q32_ann_ivf_topk" -> (1250L, None),
    "q33_dedupe_quality" -> (751L, Some(659866593312231362L)),
    "q34_cluster_table" -> (414L, Some(7924347231716825112L)),
    "q35_seg_dedup" -> (1000L, Some(3702765080839494818L)),
    "q36_url_dedup" -> (140L, Some(7643115999935007196L)),
    "q37_pii_scrub" -> (1000L, Some(-3320985840037139448L)),
    "q38_sample" -> (291L, None),
    "q39_vocab_topk" -> (50L, Some(2556291963392534244L)),
    "q40_contamination" -> (27L, Some(4380980845441722813L)),
    "q41_repetition" -> (1000L, Some(-2742807664184570656L)),
    "q42_near_decontamination" -> (736L, Some(3770292198029001088L)),
    "q43_substr_decontamination" -> (1L, Some(-2066923189867626212L)),
    "q44_domain_stats" -> (20L, Some(550826100334754554L)),
    "q45_incremental_exact_dedup" -> (221L, Some(2346066615155418246L)),
    "q46_length_quantiles" -> (5L, Some(8965296261080995785L)))
}
