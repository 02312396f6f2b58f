package org.apache.spark

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.util.NonFateSharingCache

/** Spark's cache of compiled generated classes. `CodeGenerator.cache` is
  * private, hence reflection; its type is package-private, hence this
  * package.
  */
object CodegenCache {
  private lazy val cache: NonFateSharingCache[_, _] = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    m.invoke(CodeGenerator).asInstanceOf[NonFateSharingCache[_, _]]
  }

  def clear(): Unit = cache.invalidateAll()
}
