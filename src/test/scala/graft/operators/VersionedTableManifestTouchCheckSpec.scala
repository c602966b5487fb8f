package graft.operators

/** [[VersionedTableManifestSpec]] again with the touch-set check on. */
class VersionedTableManifestTouchCheckSpec extends VersionedTableManifestSpec
  with graft.TouchSetChecked
