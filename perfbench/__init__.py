"""Seeded end-to-end benchmark of the ``sql-submit`` runner (see README.md)."""
