package graft

/** Where the fink-filters reference checkout lives: the alert fixtures
  * under `datatest/` (the reference's doctest inputs, read by the golden
  * gates q80–q84, q88, q89, q99, q100 and the filter specs) and the
  * packaged catalogs under `fink_filters/` (the cross-match default when
  * `FINK_FILTERS_DATA` is unset).
  */
object Fixtures {

  val Root = "/root/reference"

  /** `Root/rel`, checked: see [[checked]]. */
  def apply(rel: String): String = checked(s"$Root/$rel")

  /** Returns `path` unchanged when the checkout is present; otherwise
    * fails with one message naming [[Root]], instead of a separate
    * PATH_NOT_FOUND for every fixture file.
    */
  def checked(path: String): String = {
    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(Root)))
      throw new IllegalStateException(s"fixture root $Root is absent " +
        s"(needed for $path): it must hold the fink-filters checkout")
    path
  }
}
