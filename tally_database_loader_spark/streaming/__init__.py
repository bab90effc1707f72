"""Sync run log, sync control-plane server and session windows (SURVEY §2.H)."""
