package graft.plans

/** [[GraftDmlSpec]] again with the touch-set check on. */
class GraftDmlTouchCheckSpec extends GraftDmlSpec with graft.TouchSetChecked
