"""Seeded end-to-end benchmark for face_hunter_spark (see README.md)."""
