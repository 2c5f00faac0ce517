from . import joins, sinks, trigger, windows  # noqa: F401

__all__ = ["joins", "sinks", "trigger", "windows"]
