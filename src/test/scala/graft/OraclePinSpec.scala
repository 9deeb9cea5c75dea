package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Pins the DuckDB oracle and the query set, so that a change which
  * re-points a query to another operator shows here if it also touched an
  * oracle SQL string or added, dropped or renamed a query. A deliberate
  * oracle change updates `OracleSha256` in the same commit.
  */
class OraclePinSpec extends AnyFunSuite {

  /** SHA-256 over the (key, sql) pairs of `SparkEntry.oracleSql`, sorted
    * by key, each written as key NUL sql NUL in UTF-8.
    */
  private val OracleSha256 =
    "91bd95cf5599639eab2838fabdb65c2c65685071e5416086f8d263803b22420f"

  private val QueryNames: Set[String] = """
    q1_agg q3_topk q5_join q_adjacency q_anchor_text q_anti_join
    q_antimeridian q_area_assembly q_asof q_balance q_bbox q_bbox_join
    q_betweenness q_bipartite q_bm25 q_boilerplate q_bpe_apply q_bpe_pairs
    q_bpe_train q_buffer q_calibrate q_cell_compact q_cells q_centroid
    q_chaikin q_change_groups q_check_refs q_chunks q_classify q_closeness
    q_clustering q_cms q_colocate q_coloring q_common_spans q_communities
    q_compact_pip q_compaction q_concurrency q_conflate q_contain q_contours
    q_covisit q_dbscan q_decay q_decontam q_dedup_bloom q_dedup_clusters
    q_dedup_edit q_dedup_exact q_dedup_incr q_dedup_jaccard q_dedup_minhash
    q_dedup_simhash q_dedup_survivors q_density q_diameter q_diff q_dilate
    q_dissolve q_disttrans q_dtw q_endtime q_erode q_extract q_extract_rels
    q_fanout q_frames q_frechet q_frontier q_funnel q_geo_area q_geo_extract
    q_geo_pipeline q_geo_sample q_geofence q_geohash q_geojson q_geonames
    q_gi q_hausdorff q_haversine_way q_heavy_exact q_hexbin q_hilbert
    q_history_range q_hits q_hll q_hll_m256 q_host_sim q_hull q_hyperball
    q_idw q_interval_join q_iou q_isochrone q_kcore q_kmeans q_kmv
    q_kmv_jaccard q_knn q_knn_geo q_knn_geo_auto q_knn_geo_large q_knn_large
    q_ktruss q_lang_id q_lang_spans q_layout_overlap q_line_interp
    q_linkpred q_links q_lm_score q_map_match q_merge_upsert q_mis q_moran
    q_mosaic q_moving q_mst q_multimodal q_nearest_hub q_negatives q_od
    q_orient q_orphans q_pagerank q_pages_invariant q_path_counts q_phrase
    q_pii q_pip_anti q_pip_interval q_pip_join q_pip_large q_pipeline
    q_pivot q_planarize q_pmi q_poly_area q_poly_compact q_poly_join
    q_poly_sample q_polylabel q_postings q_ppjoin q_ppr q_props_hist
    q_pyramid q_pyramid_hll q_quadkey q_quadtree q_quality q_quantiles
    q_quantiles_samp q_quantiles_w q_radius_geo q_raster_blur q_rasterize
    q_reciprocity q_redirects q_regions q_rendezvous q_renumber q_rep_ngrams
    q_resample q_retention q_revgeo q_road_density q_robots q_rollup
    q_route_assembly q_salted_density q_sample q_sample_sys q_scc
    q_sem_dedup q_semi_join q_sessions q_sim_ann q_sim_autotune q_sim_ivf
    q_sim_ivfpq q_sim_neardup q_sim_pq q_sim_topk q_simplify q_sinuosity
    q_skipstats q_skyline q_snap q_speed_filter q_split q_sql_fns q_sql_geo
    q_sssp q_staypoints q_stitch q_str_part q_string_table q_tag_filter
    q_tag_rules q_tag_string q_textrank q_textrank_w q_tfidf q_tile_area
    q_tile_clip q_tile_delta q_tile_encode q_tile_hll q_tiles
    q_timestamp_iso q_token_bpe q_token_stats q_topk_group q_topo
    q_traj_cluster q_transitions q_triangles q_url_canon q_url_hosts
    q_url_neighbors q_vectorize q_visibility q_vocab q_walks q_way_cross
    q_way_len_tile q_way_poly q_way_tiles q_wcc q_winnow q_winnow_pairs
    q_wkt q_wsample q_wsample_group q_wsssp q_zonal q_zscore
  """.trim.split("\\s+").toSet

  private def sha256(pairs: Seq[(String, String)]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    pairs.sortBy(_._1).foreach { case (k, v) =>
      md.update(s"$k\u0000$v\u0000".getBytes(UTF_8))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  test("oracleSql is unchanged: SHA-256 over the sorted (key, sql) pairs") {
    assert(sha256(SparkEntry.oracleSql.toSeq) === OracleSha256)
  }

  test("the query set is the pinned 240 names") {
    val names = SparkEntry.queries.keySet
    assert(QueryNames.size === 240)
    assert(names -- QueryNames === Set.empty, "queries not pinned")
    assert(QueryNames -- names === Set.empty, "pinned queries missing")
  }
}
