package graft.plans

import org.apache.spark.sql.{Column, GraftColumnBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{UnresolvedExtractValue, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, LambdaFunction, Literal, UnresolvedNamedLambdaVariable}

/** SparkSessionExtensions registration — exposes the engine's native
  * expressions to SQL users:
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions)...
  *   spark.sql("SELECT shingle_minhash(text, 256, 10, 12) FROM docs")
  *
  * (or via spark.sql.extensions=graft.plans.GraftExtensions in
  * spark-submit conf, or into an already-built session via
  * [[org.apache.spark.sql.GraftRegistryBridge.install]]). Int parameters
  * arrive as foldable literals. The function list lives on the companion
  * so both registration paths share one source of truth.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name expects a literal int, got $other")
  }

  private def strArg(e: Expression, name: String): String = e match {
    case Literal(v, org.apache.spark.sql.types.StringType) if v != null => v.toString
    case other => throw new IllegalArgumentException(
      s"$name expects a literal string, got $other")
  }

  // Column-composed catalog functions (TagStrings / URL normalization)
  // register as the UNRESOLVED trees the SQL parser itself would build
  // for the equivalent composition — the analyzer resolves the nested
  // builtins and lambda variables like any parsed query, so SQL users
  // get the exact codegen'd composition the Scala surface has (the
  // Column->Expression bridge can't be used here: it yields opaque
  // ColumnNode wrappers the analyzer never resolves).
  private def fn(name: String, args: Expression*): Expression =
    UnresolvedFunction(Seq(name), args, isDistinct = false)
  private def str(s: String): Expression =
    Literal(org.apache.spark.unsafe.types.UTF8String.fromString(s),
      org.apache.spark.sql.types.StringType)
  private def lam(body: Expression => Expression): Expression = {
    val v = UnresolvedNamedLambdaVariable(Seq("e"))
    LambdaFunction(body(v), Seq(v))
  }
  private def escaped(c: Expression, escape: String): Expression =
    escape.distinct.sortBy(ch => if (ch == '\\') 0 else 1).foldLeft(c) {
      (acc, ch) => fn("replace", acc, str(ch.toString), str("\\" + ch))
    }
  // TagStrings.tagsToString as a parser-shaped tree
  private def tagsToString(tags: Expression, escape: String, prefix: String,
                           infix: String, suffix: String, join: String): Expression =
    fn("concat_ws", str(join),
      fn("transform", fn("array_sort", fn("map_entries", tags)), lam(e =>
        fn("concat", str(prefix),
          escaped(UnresolvedExtractValue(e, str("key")), escape),
          str(infix),
          escaped(UnresolvedExtractValue(e, str("value")), escape),
          str(suffix)))))

  private def sqlFn(name: String)(build: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, name), build)

  // a native kernel's SQL face calls its Column builder, so the kernel's
  // method name and result type live in one place
  private def native(name: String)(build: Seq[Expression] => Column) =
    sqlFn(name)(args => GraftColumnBridge.tree(build(args)))
  private def c(e: Expression): Column = GraftColumnBridge.column(e)

  /** (identifier, info, builder) triples — the injectFunction tuple shape,
    * also consumable by FunctionRegistry.registerFunction.
    */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    native("shingle_hashes")(a => TextHashExpressions.shingleHashes(c(a(0)),
      intArg(a(1), "cap"), intArg(a(2), "len"))),

    native("shingle_minhash")(a => TextHashExpressions.shingleMinHash(c(a(0)),
      intArg(a(1), "cap"), intArg(a(2), "len"), intArg(a(3), "k"))),

    native("simhash16")(a => TextHashExpressions.simHash16(c(a(0)))),

    native("simhash64")(a => TextHashExpressions.simHash64(c(a(0)))),

    native("vec_lsh_buckets")(a => TextHashExpressions.vecLshBuckets(c(a(0)),
      intArg(a(1), "tables"), intArg(a(2), "bits"))),

    sqlFn("tags_kv")(a => tagsToString(a(0), "", "", "=", "", strArg(a(1), "join"))),

    sqlFn("tags_hstore")(a => tagsToString(a(0), "\\\"", "\"", "\"=>\"", "\"", ",")),

    sqlFn("url_norm_host")(a => fn("lower", fn("regexp_extract", a(0),
      str(graft.functions.Fns.UrlHostRegex), Literal(1)))),

    // ---- geometry catalog (the reference's JS toWKT/geometry surface,
    // wrapper/geometry.hpp:81-213, as SQL functions over native kernels) ----

    native("point_wkt")(a => TextHashExpressions.pointWkt(c(a(0)), c(a(1)))),

    native("ring_area2")(a => GeomExpressions.ringArea2(c(a(0)), c(a(1)))),

    native("point_in_rings")(a =>
      GeomExpressions.pointInRings(c(a(0)), c(a(1)), c(a(2)), c(a(3)))),

    native("simplify_polyline")(a =>
      GeomExpressions.simplifyPolyline(c(a(0)), intArg(a(1), "tol_fix").toLong)),

    native("clip_seg_rect")(a => GeomExpressions.clipSegRect(c(a(0)), c(a(1)))),

    native("ln_e6")(a => HllExpressions.lnE6(c(a(0)))),

    sqlFn("haversine_m")(a => haversineTree(a(0), a(1), a(2), a(3))),

    sqlFn("geohash")(a => geohashTree(a(0), a(1), intArg(a(2), "precision"))),

    native("convex_intersects")(a =>
      GeomExpressions.convexIntersects(c(a(0)), c(a(1)), c(a(2)), c(a(3)))),

    native("seg_intersects_ring")(a =>
      GeomExpressions.segIntersectsRing(c(a(0)), c(a(1)), c(a(2)))))

  /** [[graft.operators.SpatialOps.geohashCol]] as a parser-shaped tree —
    * the same exact-integer bins and bit interleave, each base32 char one
    * substring into the alphabet literal. The bin subtrees repeat per bit
    * term; whole-stage codegen's subexpression elimination collapses the
    * deterministic duplicates.
    */
  private def geohashTree(lonFix: Expression, latFix: Expression,
                          precision: Int): Expression = {
    require(precision >= 1 && precision <= 8, "geohash precision 1..8")
    import org.apache.spark.sql.catalyst.expressions.{Add, BitwiseAnd, Cast, Concat, Divide, Least, Multiply, Pmod, ShiftRight, Substring, Subtract}
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val bits = 5 * precision
    val lonBits = (bits + 1) / 2
    val latBits = bits / 2
    // Fns.idiv's exact-division shape: ((a - pmod(a, span)) / span)::long
    def bin(v: Expression, shift: Long, span: Long, level: Int): Expression = {
      val a = Multiply(Add(v, Literal(shift)), Literal(1L << level))
      val q = Cast(Divide(Subtract(a, Pmod(a, Literal(span))), Literal(span)), LongType)
      Least(Seq(q, Literal((1L << level) - 1)))
    }
    val lonb = bin(lonFix, 1800000000L, 3600000000L, lonBits)
    val latb = bin(latFix, 900000000L, 1800000000L, latBits)
    val chars = (0 until precision).map { k =>
      val digit = (0 until 5).map { j =>
        val g = 5 * k + j
        val src = if (g % 2 == 0) ShiftRight(lonb, Literal(lonBits - 1 - g / 2))
                  else ShiftRight(latb, Literal(latBits - 1 - (g - 1) / 2))
        Multiply(BitwiseAnd(src, Literal(1L)), Literal(1L << (4 - j)))
      }.reduceLeft[Expression](Add(_, _))
      Substring(str(graft.operators.SpatialOps.GeohashAlphabet),
        Cast(Add(digit, Literal(1L)), IntegerType), Literal(1))
    }
    Concat(chars)
  }

  /** [[graft.functions.Fns.haversineMeters]] as a parser-shaped tree with
    * IDENTICAL operator association (left-assoc multiplies), so the SQL
    * surface produces bit-identical meters.
    */
  private def haversineTree(lon1: Expression, lat1: Expression,
                            lon2: Expression, lat2: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Add, Multiply, Subtract}
    val deg = Literal(0.017453292519943295769236907684886)
    val half = Literal(0.5)
    val lonh = fn("sin", Multiply(Multiply(Subtract(lon1, lon2), deg), half))
    val lath = fn("sin", Multiply(Multiply(Subtract(lat1, lat2), deg), half))
    val tmp = Multiply(fn("cos", Multiply(lat1, deg)), fn("cos", Multiply(lat2, deg)))
    // null-propagating clamp (CASE, not least) — see Fns.haversineMeters
    val h = Add(Multiply(lath, lath), Multiply(Multiply(tmp, lonh), lonh))
    val clamped = org.apache.spark.sql.catalyst.expressions.CaseWhen(
      Seq((org.apache.spark.sql.catalyst.expressions.GreaterThan(h, Literal(1.0)),
        Literal(1.0))), Some(h))
    Multiply(Multiply(Literal(2.0), Literal(6372797.560856)),
      fn("asin", fn("sqrt", clamped)))
  }
}
