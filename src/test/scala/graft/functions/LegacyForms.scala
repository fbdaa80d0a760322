package graft.functions

import graft.ops.PortableHash.plane
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The composable higher-order forms that the native codegen expressions
  * (CharFold, LshProj, WordGrams) replaced. They are the documented
  * semantics, kept as the parity reference [[PortableHashNativeSpec]]
  * checks the native expressions against; no program code uses them.
  */
object LegacyForms {

  /** `PortableHash.charFold` as a fold over codepoint elements (split's
    * zero-width regex), where `ascii` returns the element's first codepoint:
    * the full codepoint for an astral character, e.g. ascii('😀') = 128512.
    */
  def charFoldLegacy(s: Column, mult: Long, p: Long): Column =
    aggregate(split(s, ""), lit(0L), (acc, c) => pmod(acc * mult + ascii(c), lit(p)))

  /** `PortableHash.lshProj` as a transform/aggregate projection. */
  def lshProjLegacy(emb: Column, k: Column): Column =
    aggregate(
      transform(emb, (x, i) => x.cast("double") * plane(k, i)),
      lit(0.0), (acc, x) => acc + x)

  /** `TextOps`' word n-gram windows as slice/concat_ws over a sequence. */
  def gramWindowsLegacy(t: Column, n: Int): Column =
    when(size(t) >= n,
        transform(sequence(lit(0), size(t) - n),
          i => concat_ws(" ", slice(t, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
}
