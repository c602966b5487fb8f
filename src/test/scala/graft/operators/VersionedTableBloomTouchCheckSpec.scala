package graft.operators

/** [[VersionedTableBloomSpec]] again with the touch-set check on. */
class VersionedTableBloomTouchCheckSpec extends VersionedTableBloomSpec
  with graft.TouchSetChecked
