package org.apache.spark

import org.apache.spark.internal.config.ConfigEntry

/** Spark core's registered config defaults, for specs that assert a
  * session's effective value of a key nothing sets (`ConfigEntry` is
  * `private[spark]`). */
object SparkConfDefaults {
  def of(key: String): Option[String] =
    Option(ConfigEntry.findEntry(key)).map(_.defaultValueString)
}
