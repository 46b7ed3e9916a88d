"""The five index kinds, keyed by the ``derivedKind`` string the
operation log stores.

Each kind's module implements only what differs per kind (reference:
index/Index.scala:22-168):

- ``config_from_properties(name, props)``: the config a logged entry
  was built from (full refresh rebuilds with it);
- ``create_index_data(...)``: write one full version, return its
  derived properties;
- ``refresh_incremental(r)``: write the source delta of an incremental
  refresh (``base.Refresh``) into ``r.data_dir``, raising
  ``base.FallBackToFull`` when only a full rebuild is sound or sane;
- ``optimize_group_key(entry, path)``: the group a small index file
  compacts within under quick optimize (None: unexpected layout), or
  None for kinds without a per-group layout (quick rewrites it all);
- ``optimize_rewrite(spark, entry, data_dir, version, paths=None)``:
  rewrite the given index files (all of them when ``paths`` is None);
- ``CAN_HANDLE_DELETED_FILES``: deleted source files are servable
  without the lineage column.

The steps every kind shares are written once: ``hyperspace.py`` owns
the operation log, its transactions and the version commit;
``base.py`` reads appended source files like the build did and carries
retained index files into a new version.
"""

from hyperspace_spark.indexes import ann, covering, dataskipping, inverted, zorder

KINDS = {
    "CI": covering,
    "ZCI": zorder,
    "DS": dataskipping,
    "ANN": ann,
    "TXT": inverted,
}
