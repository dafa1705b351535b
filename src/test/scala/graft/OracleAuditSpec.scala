package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The dump-time oracle-glob audit (round-14 verdict task 2): a
  * relative `read_parquet` root or an absolute glob matching nothing
  * must fail the entry at dump time — the regression class where the
  * builder's local replay passes but the driver's DuckDB (different
  * cwd) errors can't ship silently again. */
class OracleAuditSpec extends AnyFunSuite with SparkTestSession.TempDirs {

  test("relative read_parquet glob is flagged") {
    val sql = "SELECT * FROM read_parquet('target/ann/x_12ab34cd/lists/*/*.parquet')"
    val probs = OracleAudit.problems(sql)
    assert(probs.size == 1)
    assert(probs.head.contains("relative oracle glob"))
  }

  test("absolute glob matching no files is flagged") {
    val sql = "SELECT * FROM read_parquet('/root/repo/target/nonexistent_zzz/*.parquet')"
    val probs = OracleAudit.problems(sql)
    assert(probs.size == 1)
    assert(probs.head.contains("matches no files"))
  }

  test("absolute glob over a real staged layout passes; all refs are checked") {
    val root = tempDir("oracle-audit").toFile
    val part = new java.io.File(root, "lists/7")
    part.mkdirs()
    Files.writeString(Paths.get(part.getPath, "part-0.parquet"), "x")
    val ok = s"${root.getAbsolutePath}/lists/*/*.parquet"
    assert(OracleAudit.problems(s"SELECT 1 FROM read_parquet('$ok')").isEmpty)
    // exact (glob-free) path
    assert(OracleAudit.problems(
      s"SELECT 1 FROM read_parquet('${part.getAbsolutePath}/part-0.parquet')").isEmpty)
    // one good + one bad reference in the same SQL: the bad one is caught
    val mixed = s"""WITH a AS (SELECT 1 FROM read_parquet('$ok')),
                    b AS (SELECT 1 FROM read_parquet('target/rel/*.parquet'))
                    SELECT * FROM a, b"""
    val probs = OracleAudit.problems(mixed)
    assert(probs.size == 1 && probs.head.contains("target/rel"))
  }

  test("every resolved staged-root oracle in the catalog would dump absolute") {
    // Static guard at the text level: no oracle SQL builder may splice a
    // bare relative staging root. The live check runs in Verify after
    // each entry resolves; here we assert the audit's own pieces.
    assert(OracleAudit.globsOf(
      "read_parquet('/a/b/*.parquet') JOIN read_parquet('/c/d.parquet')")
      === Seq("/a/b/*.parquet", "/c/d.parquet"))
  }
}
