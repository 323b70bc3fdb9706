package graft.core

/** The one reader for the numeric `graft.*` JVM system properties (tuning
  * overrides such as `graft.manifest.cache.entries`). An unset key yields
  * its default; a set key must be a whole number in `[min, max]`, else the
  * read fails naming the key and the raw value. */
object SysProps {
  def int(key: String, default: Int, min: Int): Int = read(key, default, min, Int.MaxValue).toInt
  def long(key: String, default: Long, min: Long): Long = read(key, default, min, Long.MaxValue)

  private def read(key: String, default: Long, min: Long, max: Long): Long =
    sys.props.get(key).fold(default) { raw =>
      val v = raw.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$key must be a whole number, got '$raw'"))
      require(v >= min && v <= max, s"$key must be in [$min, $max], got '$raw'")
      v
    }
}
