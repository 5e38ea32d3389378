package org.apache.spark

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.util.NonFateSharingCache

/** Empties Spark's JVM-wide codegen cache (a private field of
  * `CodeGenerator`, read reflectively), so the compiles that follow count
  * every class a call generates, whatever ran before it. */
object TestCodegen {
  def clearCache(): Unit = {
    val cache = CodeGenerator.getClass.getDeclaredMethod("cache")
    cache.setAccessible(true)
    cache.invoke(CodeGenerator).asInstanceOf[NonFateSharingCache[_, _]].invalidateAll()
  }
}
