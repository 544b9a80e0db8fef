"""Structured Streaming analytics operators (beyond-reference):
windowed aggregates, sessions, stateful per-user stats and an
incremental checksum, each with a batch twin. Continuous import is
server mode (server.py) feeding incremental batch restores, as the
reference's task queue feeds identical batch pipelines
(lightning.go:149-167, configlist.go)."""
