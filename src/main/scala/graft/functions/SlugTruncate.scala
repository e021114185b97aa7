package graft.functions

import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** The reference's slug length cap (`odgovlt.py:50-69`,
  * golden-pinned by tests/test_odgovlt.py:391-399) — the one scalar in the
  * surface that built-in functions cannot express (SURVEY.md §7.4). A
  * native instead of a Scala UDF: no Row boxing, no closure serialization,
  * participates in whole-stage codegen and constant-folding; the generated
  * code calls the shared algorithm directly on the already-normalized slug.
  */
object SlugTruncate extends NativeFunction("slug_truncate", Seq(In.string, In.int),
  StringType, NullRule.Propagate, "graft.functions.SlugTruncateOps.run")

object SlugTruncateOps {
  def run(slug: UTF8String, length: Int): UTF8String =
    UTF8String.fromString(graft.TextFunctions.truncateSlug(slug.toString, length))
}
