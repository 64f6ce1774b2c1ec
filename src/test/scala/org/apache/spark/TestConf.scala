package org.apache.spark

/** A setting of the running SparkContext's own conf, which Spark keeps
  * package-private: sessions created while it is set (a `newSession()`
  * takes its SQL settings from there, not from its parent) see it.
  */
object TestConf {
  def withContextConf[T](sc: SparkContext, key: String, value: String)(
      body: => T): T = {
    val before = sc.conf.getOption(key)
    sc.conf.set(key, value)
    try body
    finally before.fold(sc.conf.remove(key))(sc.conf.set(key, _))
  }
}
