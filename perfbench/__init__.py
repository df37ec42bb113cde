"""The repository benchmark: seeded workloads that drive the engine's
public functions from one closed-loop client (see ``NOTES.md``)."""
