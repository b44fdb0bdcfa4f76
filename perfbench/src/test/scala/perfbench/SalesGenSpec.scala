package perfbench

import graft.etl.SalesEtl
import graft.etl.SalesEtl.Err
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.Files

/** The etl_ingest generator and output check, against the reference's
  * fixture and against the engine's pipeline. */
class SalesGenSpec extends AnyFunSuite {

  private val work = Files.createTempDirectory(
    new File(sys.props("user.dir"), "target").toPath.toAbsolutePath, "salesgen").toFile
  private lazy val spark = Main.session(work)

  test("the ETL check reproduces FIXTURES.md on messy_sales_data.csv, read in place") {
    val fixture = new File(sys.props("user.dir"), "../src/test/resources/messy_sales_data.csv")
    val (clean, errors) = SalesEtl.runPipeline(spark, fixture.getAbsolutePath,
      new File(work, "fixture").getAbsolutePath)
    assert((clean, errors) === ((12L, 14L)))
    val golden = SalesGen.Truth(lines = 26, clean = 12, errors = Map(
      Err.BadType -> 3L, Err.Missing -> 4L, Err.BadDate -> 2L, Err.Duplicate -> 2L,
      Err.NonPositive -> 2L, Err.BadId -> 1L), totalSale = 5415.25)
    assert(EtlCheck.against(spark, new File(work, "fixture"), golden) === None)
    val wrong = golden.copy(errors = golden.errors.updated(Err.BadId, 2L))
    assert(EtlCheck.against(spark, new File(work, "fixture"), wrong).nonEmpty)
  }

  test("the generator's ground truth equals runPipeline's output on a small seed") {
    val csv = new File(work, "small.csv")
    val truth = SalesGen.write(csv, 20000, seed = 7)
    assert(truth.clean + truth.errorRows === truth.lines)
    assert(truth.errors.keySet === Set(Err.Malformed, Err.Missing, Err.Duplicate, Err.BadType,
      Err.NonPositive, Err.BadDate, Err.BadProduct, Err.BadId))
    val (clean, errors) = SalesEtl.runPipeline(spark, csv.getAbsolutePath,
      new File(work, "small").getAbsolutePath)
    assert((clean, errors) === ((truth.clean, truth.errorRows)))
    assert(EtlCheck.against(spark, new File(work, "small"), truth) === None)
  }

  test("the seed alone decides the file") {
    val a = new File(work, "a.csv"); val b = new File(work, "b.csv"); val c = new File(work, "c.csv")
    SalesGen.write(a, 2000, seed = 11); SalesGen.write(b, 2000, seed = 11); SalesGen.write(c, 2000, seed = 12)
    assert(Files.mismatch(a.toPath, b.toPath) === -1L)
    assert(Files.mismatch(a.toPath, c.toPath) !== -1L)
  }
}
