package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** One row of `expected/ops.tsv`: an operation, the module and workload
  * it belongs to, whether its output passed the DuckDB oracle when the
  * table was made, and that output's row count, digest and schema. */
final case class Expected(name: String, module: String, workload: String, oracle: String,
                          rows: Long, digest: String, schema: String) {
  def tsv: String = Seq(name, module, workload, oracle, rows.toString, digest, schema).mkString("\t")
}

object Expected {
  val Header = "name\tmodule\tworkload\toracle\trows\tdigest\tschema"

  def load(f: File): Map[String, Expected] = {
    val lines = Files.readAllLines(f.toPath).asScala.toSeq
    require(lines.headOption.contains(Header), s"$f: unexpected header")
    lines.tail.filter(_.nonEmpty).map { l =>
      val c = l.split("\t", -1)
      require(c.length == 7, s"$f: bad line: $l")
      val e = Expected(c(0), c(1), c(2), c(3), c(4).toLong, c(5), c(6))
      require(e.oracle == "pass", s"${e.name}: the oracle did not pass when the table was made")
      e.name -> e
    }.toMap
  }
}

/** Fills in the expected-output table from a directory of outputs that
  * graft.Verify wrote and tools/check_oracle.py passed.
  *
  * Usage: perfbench.Expect <verifyOutDir> <plan.tsv> <ops.tsv> <workDir>
  * where plan.tsv lists name, module, workload and oracle status.
  */
object Expect {
  def main(args: Array[String]): Unit = {
    val Array(outDir, planFile, tsvFile, workDir) = args
    val spark = Main.session(new File(workDir))
    val plan = Files.readAllLines(new File(planFile).toPath).asScala.filter(_.nonEmpty)
    val rows = plan.map { l =>
      val Array(name, module, workload, oracle) = l.split("\t")
      val d = Digest.of(spark.read.parquet(s"$outDir/$name"))
      Expected(name, module, workload, oracle, d.rows, d.digest, d.schema).tsv
    }
    Files.write(new File(tsvFile).toPath, (Expected.Header +: rows.sorted).asJava)
    spark.stop()
  }
}

/** Checks what an etl_ingest run left on disk against the generator's
  * ground truth: the clean count and total sale, and the dead-letter
  * count per error message. */
object EtlCheck {
  def against(spark: SparkSession, out: File, truth: SalesGen.Truth): Option[String] = {
    import org.apache.spark.sql.functions._
    val clean = spark.read.parquet(new File(out, "clean").getAbsolutePath)
      .agg(count(lit(1)), sum(col("total_sale"))).head()
    val errors = spark.read.parquet(new File(out, "errors").getAbsolutePath)
      .groupBy("error").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = if (clean.isNullAt(1)) 0.0 else clean.getDouble(1)
    if (clean.getLong(0) != truth.clean) Some(s"clean rows ${clean.getLong(0)} != ${truth.clean}")
    else if (math.abs(total - truth.totalSale) > 1e-9 * math.max(1.0, math.abs(truth.totalSale)))
      Some(s"clean total_sale $total != ${truth.totalSale}")
    else if (errors != truth.errors) Some(s"dead letters $errors != ${truth.errors}")
    else None
  }
}
