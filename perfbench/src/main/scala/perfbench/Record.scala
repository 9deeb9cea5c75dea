package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The expected outputs of the query workloads, in expected/queries.json:
  * per query its row count, checksum and the rows of input its plan reads.
  * `run` records them: every query of the mix twice, the two results
  * must agree, and each output is also written as parquet with its oracle
  * SQL so the DuckDB oracle can cross-check it (see README.md).
  */
object Record {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def load(path: String): (Map[String, Checksum.Result], Map[String, Long]) = {
    val root = json.readTree(Files.readString(Paths.get(path)))
    val it = root.get("queries").fields()
    val b = Map.newBuilder[String, (Checksum.Result, Long)]
    while (it.hasNext) {
      val e = it.next(); val v = e.getValue
      b += e.getKey -> (Checksum.Result(v.get("rows").asLong, v.get("checksum").asLong), v.get("input_rows").asLong)
    }
    val m = b.result()
    (m.map { case (k, v) => k -> v._1 }, m.map { case (k, v) => k -> v._2 })
  }

  def run(o: Map[String, String]): Map[String, Any] = {
    val data = o("data"); val dump = o("dump")
    val spark = Session.start(Runtime.getRuntime.availableProcessors, s"${o("work")}/spark-local")
    val tableRows = scala.collection.mutable.HashMap.empty[String, Long]
    val names = Workload.ShortMix.sorted
    val recorded = names.map { q =>
      def once() = {
        graft.core.CacheScope.releaseGlobal(); spark.sharedState.cacheManager.clearCache()
        val df = graft.SparkEntry.queries(q)(spark, data)
        (df, Checksum.of(df))
      }
      val (_, first) = once()
      val (df, second) = once()
      require(first == second, s"$q is not repeatable: $first then $second")
      val inputs = df.queryExecution.analyzed.collectLeaves().collect {
        case l: LogicalRelation => l.relation
      }.collect { case h: HadoopFsRelation => h.location.rootPaths.map(_.toString) }.flatten
      val rows = inputs.map(p => tableRows.getOrElseUpdate(p, spark.read.parquet(p).count())).sum
      df.write.mode("overwrite").parquet(s"$dump/$q")
      System.err.println(s"[record] $q rows=${second.rows} checksum=${second.checksum} input_rows=$rows")
      q -> Map("rows" -> second.rows, "checksum" -> second.checksum, "input_rows" -> rows)
    }
    Files.writeString(Paths.get(s"$dump/oracle_sql.json"),
      json.writeValueAsString(names.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap))
    Session.stop(spark)
    Map("data" -> "sf0.01", "queries" -> recorded.toMap)
  }
}
