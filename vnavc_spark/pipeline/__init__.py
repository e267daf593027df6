"""Stage-level pipeline transforms (SURVEY.md §3 lifecycles).

Every stage is a pure ``DataFrame → DataFrame`` transform; side
effects (HTTP, audio decode, subprocess tools) are confined to
pandas-UDF islands with injectable dependencies so tests stay
hermetic. Stage outputs that several actions read are persisted
through ``cache.tracked_persist`` (one slot per stage) instead of
being recomputed by each action.
"""
