package graft

import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Repo rule: every DECLARED query's top-level output schema is
  * atomic-only — no `array`/`map`/`struct` columns. The correctness gate
  * sorts result frames with a pandas-style checker, and a frame with
  * ndarray/dict cells cannot be sorted or hashed (`q_sketch_hll` learned
  * this the hard way in round 6: its raw `registers` array crashed the
  * driver checker even though the values were oracle-exact). Nested data
  * stays first-class INSIDE a query; at the declared boundary it projects
  * to scalars, canonical joined strings, JSON strings, or exploded rows.
  */
class DeclaredSchemaSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  test("every declared query's top-level schema is atomic-only") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, q) =>
        // schema derivation only — the plan is built, never executed
        q(spark, dir).schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
              f.dataType.isInstanceOf[MapType] ||
              f.dataType.isInstanceOf[StructType] =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
    }
    assert(offenders.isEmpty,
      s"declared queries must not expose nested top-level columns " +
        s"(project to scalars / joined strings / exploded rows):\n" +
        offenders.mkString("\n"))
  }

  test("every declared query has an oracle or a documented exemption") {
    // SF3's greedy slug truncation is the one non-SQL-expressible query
    // (golden-pinned by SlugTruncateSpec) — anything else missing an
    // oracle is a coverage regression the correctness gate would record
    // as a weak rows-only check.
    val exempt = Set("q_sf3_slug_truncate")
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- exempt
    assert(missing.isEmpty, s"queries without an oracle: $missing")
  }
}
