package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Fns

/** Deterministic synthesis of the engine's spatial/production inputs from
  * the driver's parquet tables — no randomness, pure arithmetic, so every
  * derived table has an exact DuckDB-SQL twin for the oracle.
  */
object Synth {

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Point-per-lineitem-row: key = l_orderkey*10 + l_linenumber, coords by
    * multiplicative hashing (Fns.lonFixOf/latFixOf). lon ±90°, lat ±60°.
    */
  def points(spark: SparkSession, sfDir: String): DataFrame = {
    val li = table(spark, sfDir, "lineitem")
    val key = li("l_orderkey") * lit(10L) + li("l_linenumber")
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic data, and
    // coords are pure functions of pid → full-row duplicates; the point set
    // is defined as DISTINCT so kNN/PIP have well-defined per-pid semantics.
    li.select(
      key.as("pid"),
      Fns.lonFixOf(key).as("lon_fix"),
      Fns.latFixOf(key).as("lat_fix")).distinct()
  }

  /** The same derivation as DuckDB SQL (shared by every spatial oracle). */
  val pointsSql: String =
    """SELECT DISTINCT (l_orderkey*10 + l_linenumber) AS pid,
      |  ((l_orderkey*10 + l_linenumber) * 2654435761) % 1800000000 - 900000000 AS lon_fix,
      |  ((l_orderkey*10 + l_linenumber) * 2246822519) % 1200000000 - 600000000 AS lat_fix
      |FROM lineitem""".stripMargin

  // ---- polygons -------------------------------------------------------------

  /** Deterministic convex hexagons (CCW, integer fix-coord vertices).
    * poly_id k: center on an integer-degree grid, radius 2°..6.9°.
    */
  case class Hexagon(polyId: Int, cx: Long, cy: Long, xs: Array[Long], ys: Array[Long])

  val NumPolygons = 30

  lazy val hexagons: Seq[Hexagon] = (0 until NumPolygons).map { k =>
    val cx = ((k * 97561L + 11) % 160 - 80) * 10000000L   // ±80° lon
    val cy = ((k * 48271L + 7) % 100 - 50) * 10000000L    // ±50° lat
    val r = 20000000L + k * 1700000L
    val s = r * 866L / 1000L
    val xs = Array(cx + r, cx + r / 2, cx - r / 2, cx - r, cx - r / 2, cx + r / 2)
    val ys = Array(cy, cy + s, cy + s, cy, cy - s, cy - s)
    Hexagon(k, cx, cy, xs, ys)
  }

  /** The hexagons as the broadcast polygon map of the PIP kernels
    * (poly_id → one ring).
    */
  lazy val hexagonPolys: graft.plans.PipKernel.Polys =
    hexagons.map(h => h.polyId -> Array((h.xs, h.ys))).toMap

  /** Polygon vertex table (poly_id, seq, x, y) — CCW open rings. */
  def polygonVertices(spark: SparkSession): DataFrame = {
    import spark.implicits._
    hexagons.flatMap(h => h.xs.indices.map(i => (h.polyId, i, h.xs(i), h.ys(i))))
      .toDF("poly_id", "seq", "x", "y")
  }

  /** Polygon edge table (poly_id, x1, y1, x2, y2) for convex half-plane
    * tests; also the literal VALUES body for the DuckDB oracle.
    */
  def polygonEdges: Seq[(Int, Long, Long, Long, Long)] =
    hexagons.flatMap { h =>
      h.xs.indices.map { i =>
        val j = (i + 1) % h.xs.length
        (h.polyId, h.xs(i), h.ys(i), h.xs(j), h.ys(j))
      }
    }

  def polygonEdgesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    polygonEdges.toDF("poly_id", "x1", "y1", "x2", "y2")
  }

  /** VALUES(...) literal of the edges for oracle SQL. */
  def polygonEdgesValuesSql: String =
    polygonEdges.map { case (p, x1, y1, x2, y2) => s"($p,$x1,$y1,$x2,$y2)" }
      .mkString("(VALUES ", ", ", ") AS pe(poly_id, x1, y1, x2, y2)")

  /** Deterministic LARGE convex-hexagon corpus for the DataFrame-native
    * polygon PIP join (poly_id, xs, ys — open CCW rings, exact int64): n
    * hexagons with multiplicative-hash centers (lon ±170°, lat ±55°) and 13
    * radius classes 0.2°..0.8°. All derived quantities (half-radius h,
    * apothem-ish s = r·866/1000) are integer-exact closed forms of
    * id % 13, so the DuckDB twin reproduces every vertex bit-for-bit.
    */
  def hexCorpus(spark: SparkSession, n: Int, start: Long = 0L): DataFrame = {
    val id = col("id")
    val cx = (id * lit(2654435761L)) % lit(3400000000L) - lit(1700000000L)
    val cy = (id * lit(2246822519L)) % lit(1100000000L) - lit(550000000L)
    val m = id % 13
    val r = lit(2000000L) + m * lit(500000L)
    val h = lit(1000000L) + m * lit(250000L)
    val s = lit(1732000L) + m * lit(433000L)
    spark.range(start, start + n).select(id.as("poly_id"),
      array(cx + r, cx + h, cx - h, cx - r, cx - h, cx + h).as("xs"),
      array(cy, cy + s, cy + s, cy, cy - s, cy - s).as("ys"))
  }

  /** DuckDB CTE body twin of hexCorpus: (poly_id, cx, cy, r, h, s). */
  def hexCorpusSql(n: Int, start: Long = 0L): String =
    s"""SELECT id AS poly_id,
       |  (id * 2654435761) % 3400000000 - 1700000000 AS cx,
       |  (id * 2246822519) % 1100000000 - 550000000 AS cy,
       |  2000000 + (id % 13) * 500000 AS r,
       |  1000000 + (id % 13) * 250000 AS h,
       |  1732000 + (id % 13) * 433000 AS s
       |FROM (SELECT unnest(range($start, ${start + n})) AS id)""".stripMargin

  // ---- corpus with injected duplicates --------------------------------------

  /** documents ∪ perturbed copies: every 7th doc gets an exact copy
    * (id+1000000), every 5th a near-copy with the last 7 chars dropped
    * (id+2000000). Gives the dedup operators real work with a SQL twin.
    */
  def corpus(spark: SparkSession, sfDir: String): DataFrame = {
    val d = table(spark, sfDir, "documents").select("doc_id", "text")
    val exact = d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val near = d.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        expr("substring(text, 1, length(text) - 7)").as("text"))
    d.unionByName(exact).unionByName(near)
  }

  val corpusSql: String =
    """SELECT doc_id, text FROM documents
      |UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
      |UNION ALL SELECT doc_id + 2000000, substring(text, 1, length(text) - 7) FROM documents WHERE doc_id % 5 = 0""".stripMargin

  /** Embedding corpus with injected near-duplicates: every 10th vector gets
    * a copy (vec_id+1000000) with the first component nudged by +0.01.
    */
  def embCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val e = table(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val dup = e.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> CASE WHEN i = 0 THEN CAST(x + 0.01 AS FLOAT) ELSE x END)")
          .as("embedding"))
    e.unionByName(dup)
  }

  val embCorpusSql: String =
    """SELECT vec_id, embedding FROM embeddings
      |UNION ALL SELECT vec_id + 1000000,
      |  [CASE WHEN i = 1 THEN CAST(embedding[i] + 0.01 AS FLOAT) ELSE embedding[i] END
      |   for i in range(1, 1 + len(embedding))]
      |FROM embeddings WHERE vec_id % 10 = 0""".stripMargin

  // ---- pages (north-rule production table) ----------------------------------

  /** Common-Crawl-style pages table synthesized from documents:
    * (url, warc_ts, html, text, lang) per BASELINE.json input_hint.
    */
  def pages(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "documents").select(
      concat(lit("https://example.org/doc/"), col("doc_id").cast("string")).as("url"),
      timestamp_micros(lit(1704067200000000L) + col("doc_id") * lit(1000000L)).as("warc_ts"),
      encode(concat(lit("<html><body>"), col("text"), lit("</body></html>")), "UTF-8").as("html"),
      col("text"),
      col("lang"))

  /** Pages variant with deterministic OUTLINKS across a 97-host site space:
    * page doc_id lives on host site(doc_id % 97) and links to three targets
    * t_j = (doc_id·31 + j·1009 + 7) % 100000, j ∈ {0,1,2} — targets may
    * dangle (the real web does). The anchors are real `<a href=...>` markup
    * inside the binary html column, so link extraction exercises the
    * decode + regexp path; the documents text is markup-free by
    * construction (verified: no '"', '<' or 'href' occurrences).
    */
  def pagesLinked(spark: SparkSession, sfDir: String): DataFrame = {
    def host(id: Column) =
      concat(lit("site"), (id % 97).cast("string"), lit(".example.org"))
    def anchor(j: Int) = {
      val t = (col("doc_id") * 31 + lit(j) * 1009 + 7) % 100000
      // anchor TEXT varies with the target (t % 23), not the slot j, so
      // anchor-text aggregation per target host is non-degenerate
      concat(lit("<a href=\"https://"), host(t), lit("/doc/"),
        t.cast("string"), lit("\">ref-"), (t % 23).cast("string"), lit("</a>"))
    }
    table(spark, sfDir, "documents").select(
      concat(lit("https://"), host(col("doc_id")), lit("/doc/"),
        col("doc_id").cast("string")).as("url"),
      timestamp_micros(lit(1704067200000000L) + col("doc_id") * lit(1000000L)).as("warc_ts"),
      encode(concat(lit("<html><body><p>"), col("text"), lit("</p>"),
        anchor(0), anchor(1), anchor(2), lit("</body></html>")), "UTF-8").as("html"),
      col("text"), col("lang"))
  }

  /** Pages variant with embedded geo microdata: every third page
    * (doc_id % 3 == 0) carries a `<meta name="geo.fix"
    * content="{lon_fix};{lat_fix}">` tag inside its html — fix-integer
    * coordinates (a deterministic stand-in for geo.position/ICBM
    * microformats, kept integer so extraction parity is exact) scattered
    * by the same multiplicative constants as the points corpus. The
    * other two thirds have NO geo tag, so extraction must skip them.
    */
  def pagesGeo(spark: SparkSession, sfDir: String): DataFrame = {
    val id = col("doc_id")
    val lonFix = (id * lit(2654435761L)) % lit(3600000000L) - lit(1800000000L)
    val latFix = (id * lit(2246822519L)) % lit(1800000000L) - lit(900000000L)
    val meta = when(id % 3 === 0,
      concat(lit("<meta name=\"geo.fix\" content=\""), lonFix.cast("string"),
        lit(";"), latFix.cast("string"), lit("\">"))).otherwise(lit(""))
    table(spark, sfDir, "documents").select(
      concat(lit("https://example.org/doc/"), id.cast("string")).as("url"),
      timestamp_micros(lit(1704067200000000L) + id * lit(1000000L)).as("warc_ts"),
      encode(concat(lit("<html><head>"), meta, lit("</head><body>"),
        col("text"), lit("</body></html>")), "UTF-8").as("html"),
      col("text"), col("lang"))
  }

  /** Multi-capture URL corpus for canonicalization: logical page
    * lid = doc_id % 100 on host site(lid % 13) appears under four crawl-
    * realistic surface forms (uppercase scheme/host + default port +
    * fragment; plain; userinfo + port + fragment; plain) — all of which
    * canonicalize to `https://site{lid%13}.example.org/doc/{lid}?a=1&b=2`.
    */
  def pagesCaptures(spark: SparkSession, sfDir: String): DataFrame = {
    val lid = col("doc_id") % 100
    val h = (lid % 13).cast("string")
    val core = concat(lit("site"), h, lit(".example.org"))
    val coreUp = concat(lit("Site"), h, lit(".Example.ORG"))
    val path = concat(lit("/doc/"), lid.cast("string"))
    val url = when(col("doc_id") % 4 === 0,
        concat(lit("HTTPS://"), coreUp, lit(":443"), path, lit("?b=2&a=1#frag")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("https://"), core, path, lit("?a=1&b=2")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("https://crawler@"), core, lit(":443"), path, lit("?b=2&a=1#x")))
      .otherwise(concat(lit("https://"), core, path, lit("?a=1&b=2")))
    table(spark, sfDir, "documents").select(url.as("url"),
      timestamp_micros(lit(1704067200000000L) + col("doc_id") * lit(1000000L)).as("warc_ts"))
  }
}
