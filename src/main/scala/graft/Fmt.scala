package graft

/** Locale-pinned number formatting shared by the JSON-emitting mains
  * (Bench, ScaleBench, ScaleProbe, TwsProbe).
  *
  * Scala's `f"%.2f"` honors the JVM default locale, so under a
  * comma-decimal locale (de_DE, fr_FR) an interpolated double prints
  * `1,234` and breaks the JSON line. One targeted `Locale.ROOT`
  * formatter beats mutating the JVM-global default locale, which would
  * leak into any library code sharing the JVM.
  */
object Fmt {
  def sec(v: Double, digits: Int = 2): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
}
