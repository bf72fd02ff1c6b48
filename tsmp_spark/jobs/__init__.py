from .checkpoint import CheckpointedJob

__all__ = ["CheckpointedJob"]
