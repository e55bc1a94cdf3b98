package graft.functions

import org.apache.spark.sql.catalyst.util.CollationSupport
import org.apache.spark.unsafe.types.UTF8String

/** The text kernels' case mapping: `lower(trim(text))` exactly as Spark
  * evaluates it. Spark's `lower` on a UTF8_BINARY string goes through
  * ICU under `spark.sql.icu.caseMappings.enabled` (the default), not the
  * JDK's `String.toLowerCase` that `UTF8String.toLowerCase` calls: the
  * JDK tables lag ICU's (JDK 17 knows Unicode 13, so `lower('Ⱟ')` is
  * U+2C5F in Spark and U+2C2F in the JDK). Every kernel that claims to
  * tokenize like `split(lower(trim(text)), "\\s+")` lowercases here.
  * ASCII text takes ICU's ASCII fast path and is unchanged.
  */
object SparkLower {

  /** `lower(trim(text))` as a Java string (`trim` strips spaces only). */
  def lowerTrimmed(text: UTF8String): String =
    CollationSupport.Lower.execBinaryICU(text.trim()).toString
}
