"""Sync run log, sync server and streaming operators (SURVEY §2.H)."""
