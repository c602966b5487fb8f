package graft.sources

/** Read-only view of the DSv2 reader's slice counter, which is
  * package-private to `graft.sources`. The benchmark only samples it
  * before and after a read. */
object SlicesProbe {
  def opened: Long = GraftReaderFactory.slicesOpened.get()
}
