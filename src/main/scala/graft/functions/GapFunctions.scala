package graft.functions

import scala.annotation.unused

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** SURVEY §2.3 gap functions — DataFusion scalars without a same-named
  * Spark builtin, composed from Catalyst primitives (stays inside
  * whole-stage codegen; no UDFs).
  */
object GapFunctions {

  /** DataFusion `date_bin(stride, ts, origin)`: floor `ts` into
    * `strideSeconds` buckets anchored at `originEpochSeconds`
    * (default 2000-01-01, DuckDB time_bucket's anchor). Pure int64
    * arithmetic — `pmod` gives the non-negative remainder, so the
    * subtraction floors toward the origin for timestamps on either side
    * of it, with no double-precision leg at any magnitude (engine-
    * portable by construction, not by range argument). */
  def dateBinSeconds(
      ts: Column,
      strideSeconds: Long,
      originEpochSeconds: Long = 946684800L): Column = {
    val sec = unix_timestamp(ts)
    timestamp_seconds(sec - pmod(sec - originEpochSeconds, lit(strideSeconds)))
  }

  /** DataFusion `array_resize(arr, n, fill)`. */
  def arrayResize(arr: Column, n: Int, fill: Column): Column = {
    val padded = concat(arr, array_repeat(fill, n))
    slice(padded, 1, n)
  }

  /** DataFusion `array_pop_front` / `array_pop_back`. */
  def arrayPopFront(arr: Column): Column =
    slice(arr, lit(2), greatest(size(arr) - 1, lit(0)))

  def arrayPopBack(arr: Column): Column =
    slice(arr, lit(1), greatest(size(arr) - 1, lit(0)))

  /** DataFusion `array_ndims` (Spark arrays are rank-1 unless nested). */
  def arrayNdims(@unused arr: Column): Column = lit(1)

  /** DataFusion `array_dims` (rank-1 array → `[cardinality]`). */
  def arrayDims(arr: Column): Column = array(size(arr))

  /** DataFusion `digest(x, algo)` dispatch over Spark's hash builtins. */
  def digest(c: Column, algo: String): Column = algo.toLowerCase match {
    case "md5"    => md5(c)
    case "sha224" => sha2(c, 224)
    case "sha256" => sha2(c, 256)
    case "sha384" => sha2(c, 384)
    case "sha512" => sha2(c, 512)
    case other    => throw new IllegalArgumentException(s"digest: $other")
  }
}
