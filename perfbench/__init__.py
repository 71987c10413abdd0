"""sketchlib benchmark (see README.md)."""
