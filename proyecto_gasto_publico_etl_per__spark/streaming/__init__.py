"""Event-time window operators that run on batch or streaming frames."""
